"""Job configuration — the rebuild of the reference's config surface.

Reference: /root/reference/src/anki_ocr/config.json:1-13 + docs/config.md:5-23
(11 flat keys: batch_size, languages, num_threads, use_batching,
use_multithreading, text_output_location, preserve_interword_spaces,
overwrite_existing, tesseract paths). SURVEY.md §2 row 24 maps these to
Spark job/runtime knobs.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import List, Optional

OUTPUT_MODES = ("text_column", "spans")  # api.py:67 assert analog


@dataclass
class ExtractConfig:
    #: Arrow rows per batch handed to the kernel — the analog of the
    #: reference's ``batch_size`` (config.json:2; manifest batching at
    #: utils.py:36-43). 1024 measured best on ~0.5 KB pages; jumbo
    #: payloads are bounded separately by MAX_HTML_BYTES truncation.
    batch_rows: int = 1024

    #: languages to process (ISO 639-2, like config.json:3); None = all.
    lang_filter: Optional[List[str]] = None

    #: "text_column" = new-column writeback (api.py:237-247 "new_field");
    #: "spans" = span-level output (api.py:230-236 "tooltip").
    output_mode: str = "text_column"

    #: skip pages that already have a non-null extract (config.md
    #: ``overwrite_existing`` analog); consumed by evolve.add_extracted_column
    #: via evolve.evolve_with_config.
    overwrite_existing: bool = True

    #: keep literal space runs inside a block verbatim (the reference's
    #: tesseract ``preserve_interword_spaces`` flag, config.json:8); default
    #: False = collapse all whitespace runs to single spaces.
    preserve_interword_spaces: bool = False

    #: salted-repartition bucket count (north_rule skew handling); also the
    #: output partition key, so re-runs and merges are partition-local.
    salt_buckets: int = 32

    #: pre-kernel salted repartition. Default OFF: the extract stage is
    #: map-only and on healthy layouts input splits already balance it, so
    #: shuffling the binary html payload is an ~18% pure tax
    #: (BENCH/scaling.json benign_layout_shuffle_cost_frac). Turn ON for
    #: pathological dumps — few giant unsplittable files — where it gives
    #: 2.8x (BENCH/scaling.json skew_ablation), or when the output must be
    #: physically clustered by bucket ahead of a wide op.
    presalt_shuffle: bool = False

    #: per-partition checkpoint ledger location (None = no checkpointing).
    checkpoint_dir: Optional[str] = None

    #: extra input columns to carry through the kernel stage into the output
    #: (rides the same Arrow batch; text mode only). Default empty: only
    #: (url, html) cross the Python boundary (SURVEY.md §4) — the binary
    #: payload dominates, so keep this to small scalar columns.
    extra_passthrough_cols: List[str] = field(default_factory=list)

    def __post_init__(self) -> None:
        assert self.output_mode in OUTPUT_MODES, self.output_mode
        assert self.salt_buckets > 0
        assert self.batch_rows > 0
