"""Pipeline configuration.

Knob names mirror the reference's detection/recognition knobs so goldens
are reproducible from config alone:

* ``binary_thresh`` / ``box_thresh`` / ``max_candidates`` / ``expand_ratio``
  — ``DBPostprocess`` (reference mindocr/postprocess/det_postprocess.py:14-30)
* ``drop_score`` — final text-confidence filter
  (reference tools/infer/text/config.py:77, predict_system.py:92-100)
* ``limit_side_len`` — input size cap, the ``DetResize limit_type=max``
  analog (reference mindocr/data/transforms/det_transforms.py:185-310)
"""

from __future__ import annotations

from dataclasses import asdict, dataclass, field, fields


@dataclass(frozen=True)
class ExtractConfig:
    # --- stage 1: detection (DBPostprocess analog) ---
    binary_thresh: float = 0.55      # per-block score threshold (det_postprocess.py:42)
    box_thresh: float = 0.60         # per-span weighted-score threshold (det_postprocess.py:63-64)
    min_block_chars: int = 2         # _min_size analog (det_postprocess.py:72-74)
    min_span_chars: int = 25         # span-level min size filter
    max_candidates: int = 1000       # cap spans considered (det_postprocess.py:60)
    tag_weight: float = 8.0          # weight of a markup tag vs one text char in density
    expand_ratio: float = 0.0        # unclip analog: widen span into surrounding whitespace
    # Heading rescue (the boilerpipe/readability "short headline directly
    # before content" heuristic): a non-candidate block that immediately
    # precedes a base-candidate block is pulled into the run when it is
    # link-free, short (tlen <= rescue_max_chars) and failed only on
    # inline-tag density (score >= rescue_thresh). Catches 1990s-style
    # <font size=3><b>Headline</b></font><br> newsletter markup that has
    # no h1..h6 element. rescue_max_chars = 0 disables the rule; the
    # frozen predicate lives in webx/detect.py merge_runs_table.
    rescue_thresh: float = 0.30      # score floor for a rescuable block
    rescue_max_chars: int = 80       # max tlen of a rescued block; 0 = off

    # --- stage 2: recognition (RecCTCLabelDecode analog) ---
    drop_score: float = 0.5          # drop spans with score < drop_score (config.py:77)
    join_sep: str = "\n"             # separator between decoded spans (save_res analog)
    # Unicode NFC canonical composition of decoded span text (off by
    # default: goldens are byte-frozen on the as-decoded form). ASCII
    # is NFC-invariant, so the fused C byte path stays exact with the
    # flag on; only non-ASCII spans pay the normalize call. Cross-engine
    # contract: DuckDB's nfc_normalize agrees (q_extract_nfc gates it).
    nfc: bool = False

    # --- input policy ---
    limit_side_len: int = 4_000_000  # truncate html longer than this many bytes
    default_charset: str = "utf-8"   # fallback when no meta charset declared

    # --- compiled byte-stream kernels ---
    # The two hot per-byte loops (stage-1 lexer, stage-2 tag-strip) have
    # C ports (webx/_ctok.c) that are bit-identical to the Python
    # reference implementations (differential-fuzzed,
    # tests/test_ctokenize.py). "auto": use them when the .so
    # builds/loads, else Python; "require": raise if unavailable;
    # "off": pin the pure-Python reference paths.
    ckernels: str = "auto"

    # --- physical plan (explicit partitioning per north rule) ---
    repartition: int | None = None   # None → keep scan partitioning (narrow plan)
    salt_buckets: int = 16           # secondary salt key for mega-host skew
    size_gears: bool = False         # add log2-size bucket to partition key (gear_utils analog)

    passthrough: tuple = field(default=("warc_ts", "lang"))

    # -- config-driven pipeline (the YAML-config analog,
    #    configs/det/dbnet/db_r50_icdar15.yaml): goldens are reproducible
    #    from the serialized config alone --
    def to_dict(self) -> dict:
        d = asdict(self)
        d["passthrough"] = list(d["passthrough"])
        return d

    @classmethod
    def from_dict(cls, d: dict) -> "ExtractConfig":
        known = {f.name for f in fields(cls)}
        unknown = set(d) - known
        if unknown:
            raise ValueError(f"unknown config keys: {sorted(unknown)}")
        d = dict(d)
        if "passthrough" in d:
            d["passthrough"] = tuple(d["passthrough"])
        return cls(**d)


# ---------------------------------------------------------------- registry
# The model-registry analog (mindocr/models/_registry.py:21-35
# `@register_model` + by-name creation in create_model): named extractor
# presets resolvable from config strings, with the reference's
# unknown-name error contract. The transform-registry analog
# (transforms_factory.py:43 name→callable dispatch) is
# webx.convert.CONVERTERS.

PRESETS: dict = {}


def register_preset(name: str, cfg: ExtractConfig) -> ExtractConfig:
    PRESETS[name] = cfg
    return cfg


register_preset("default", ExtractConfig())
register_preset(
    "strict",  # high-precision: drop low-confidence and short spans
    ExtractConfig(box_thresh=0.75, drop_score=0.7, min_span_chars=50),
)
register_preset(
    "recall",  # high-recall: keep marginal blocks, small spans
    ExtractConfig(binary_thresh=0.4, box_thresh=0.45, drop_score=0.3,
                  min_span_chars=10),
)
register_preset(
    "crawl",  # production crawl ingest: explicit skew handling on
    ExtractConfig(repartition=4096, size_gears=True),
)
