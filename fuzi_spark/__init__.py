"""fuzi_spark — a PySpark-native distributed HTML/XML extraction engine.

A from-scratch re-creation of the query + data-processing capabilities of
kylehughes/Fuzi (a Swift libxml2 wrapper), re-expressed Spark-first:

- a pure-Python recovering XML/HTML tokenizer + DOM (dom.py, xmlparser.py,
  htmlparser.py) that lives only inside Arrow batches,
- a full XPath 1.0 engine (xpath.py) and the reference's CSS→XPath dialect
  (css.py),
- vectorized pandas-UDF operators over document tables (udfs.py),
- main-content extraction → ordered (kind, text, media_ref, offset) spans
  (extract.py), span⇄markup codec (codec.py),
- scale plumbing: doc_id-hash repartitioning, skew salting, per-partition
  lineage, checkpoint-resume (pipeline.py),
- training-data ops: dedup, similarity search, text stats (ops/).

Importing the package guards `zipimporter.invalidate_caches` (_zipcache.py),
so a PySpark worker that runs a fuzi_spark function stops re-reading the
zip archives on its path before every task.
"""

from . import _zipcache
from .css import css_to_xpath
from .dom import DTD, Document, Element, EntityDecl, Node, Text
from .errors import XMLError, XPathError
from .htmlparser import parse_html
from .query import (
    XPathResult,
    css,
    document_snapshot,
    element_snapshot,
    eval_xpath,
    first_child_css,
    first_child_xpath,
    try_xpath,
    xpath,
)
from .xmlparser import parse_xml

_zipcache.install()

__version__ = "0.1.0"

__all__ = [
    "DTD",
    "Document",
    "Element",
    "EntityDecl",
    "Node",
    "Text",
    "XMLError",
    "XPathError",
    "XPathResult",
    "css",
    "css_to_xpath",
    "document_snapshot",
    "element_snapshot",
    "eval_xpath",
    "first_child_css",
    "first_child_xpath",
    "parse_html",
    "parse_xml",
    "try_xpath",
    "xpath",
]
