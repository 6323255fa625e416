from .codec import (
    vb_encode,
    vb_decode,
    encode_postings,
    encode_postings_many,
    decode_postings,
    BLOCK,
)
from .build import build_index, extend_index, IndexMeta
from .reader import FtsIndex

__all__ = [
    "vb_encode",
    "vb_decode",
    "encode_postings",
    "encode_postings_many",
    "decode_postings",
    "BLOCK",
    "build_index",
    "extend_index",
    "IndexMeta",
    "FtsIndex",
]
