"""Spark pipeline: chunk → encode (mapInArrow) → manifest → resume → verify."""

from .session import get_spark  # noqa: F401
from .chunk import chunk_docs  # noqa: F401
from .encode import encode_chunks, ENCODED_SCHEMA  # noqa: F401
from .decode import (  # noqa: F401
    decode_chunks,
    decode_docs,
    reassemble_docs,
)
from .verify import roundtrip_report  # noqa: F401
from .pipeline import EncodeJob  # noqa: F401
from .agg import agg_chunks, agg_tokens, count_tokens  # noqa: F401
