"""WriterProperties — the one encode configuration.

Analog of the reference's ``WriterProperties::Builder``
(``src/parquet/properties.h:141-347``): per-column codec overrides,
dictionary on/off and its page-size limit, data page size and layout
version, compression, plus two engine knobs (bloom columns and the
deterministic sort key of the grouped encode). Every encode entry point
takes it as ``props`` and nothing else sets these knobs; ``props=None``
means ``WriterProperties()``. The page-size and dictionary-limit defaults
are the kernels' own (``chunk.DEFAULT_PAGE_SIZE``,
``dictionary.DEFAULT_DICT_SIZE_LIMIT``).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from . import chunk as chunkmod
from .kernels import dictionary

# every encode path writes a per-chunk split-block bloom for these columns
# (into the chunk row's ``bloom`` column, so blob bytes do not move): the
# point lookup prunes on them before it decodes anything
DEFAULT_BLOOM_COLUMNS = frozenset({"doc_id"})


@dataclass
class WriterProperties:
    # per-column codec name override (None -> auto-selector); the reference's
    # per-column-path encoding config (properties.h:379-404)
    codec_overrides: dict[str, str] = field(default_factory=dict)
    dictionary_enabled: bool = True
    dictionary_pagesize_limit: int = dictionary.DEFAULT_DICT_SIZE_LIMIT
    data_pagesize: int = chunkmod.DEFAULT_PAGE_SIZE  # page flush threshold
    compression: str = "UNCOMPRESSED"
    # data page layout version: V1 compresses the assembled page; V2 keeps
    # levels outside the compressed block (properties.h:363-377)
    format_version: str = "V1"
    bloom_columns: frozenset[str] = DEFAULT_BLOOM_COLUMNS
    # the grouped encode sorts each part by this column (None: arrival
    # order) so retried tasks write the same blobs
    sort_key: str | None = "doc_id"

    def __post_init__(self):
        for col, name in self.codec_overrides.items():
            if name not in chunkmod.CODEC_IDS:
                raise ValueError(f"unknown codec {name!r} for column {col!r}")
        if self.compression not in chunkmod.COMPRESSION_IDS:
            raise ValueError(f"unknown compression {self.compression!r}")
        if self.format_version not in ("V1", "V2"):
            raise ValueError(f"unknown format_version "
                             f"{self.format_version!r}")
        if self.data_pagesize <= 0:
            # a non-positive threshold would flush one page per row
            raise ValueError(f"data_pagesize must be positive, got "
                             f"{self.data_pagesize}")
        if not self.dictionary_enabled:
            # reference parity: a dictionary encoding cannot be forced while
            # dictionaries are disabled (properties.h:224-232)
            bad = [c for c, n in self.codec_overrides.items()
                   if n in ("RLE_DICTIONARY", "PLAIN_DICTIONARY")]
            if bad:
                raise ValueError(
                    f"dictionary_enabled=False conflicts with dictionary "
                    f"codec override on column(s) {bad}")

    @property
    def compression_id(self) -> int:
        return chunkmod.COMPRESSION_IDS[self.compression]

    @property
    def data_page_version(self) -> int:
        return 2 if self.format_version == "V2" else 1
