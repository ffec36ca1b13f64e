"""The grouped encode operator under its contract names.

``encode_df`` is ``encode_arrow.encode_df_arrow`` (same positional
signature): rows go to the task whose index is their ``part_col`` (modulo
the part count), then whole partitions encode per ``mapInArrow`` task
straight from Arrow buffers.
"""

from .encode_arrow import CHUNK_SCHEMA, TOKEN_TABLE_COLUMNS
from .encode_arrow import encode_df_arrow as encode_df

__all__ = ["CHUNK_SCHEMA", "TOKEN_TABLE_COLUMNS", "encode_df"]
