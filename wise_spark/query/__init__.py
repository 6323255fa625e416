from .bm25 import tf_component
from .naive import naive_topk
from .search import SearchResult, search, export_csv, page

__all__ = [
    "tf_component",
    "naive_topk",
    "SearchResult",
    "search",
    "page",
    "export_csv",
]
