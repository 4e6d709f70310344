"""Shared constants for the extraction engine.

Semantics mirrored from the reference implementation
(fran-abellan88/insurance-pdf-extractor):

- ``EMPTY_VALUE`` sentinel: app/models/extraction.py:22-46,
  app/services/storage.py:558-560 — a literal string, distinct from
  null, and analytics filter on it textually.
- Date format cascade: app/utils/validators.py:69-78 (ordered — the
  MM/DD/YYYY interpretation wins over DD/MM/YYYY for ambiguous dates).
- Boolean mapping: app/utils/validators.py:150-151.
- State whitelist: app/utils/validators.py:180-232.
- Pricing: app/services/pdf_processor.py:262-279.
"""

from __future__ import annotations

EMPTY_VALUE = "EMPTY VALUE"
VALIDATION_FAILED = "VALIDATION_FAILED"

# Maximum input size (reference: 10 MB, app/core/config.py:39).
MAX_FILE_SIZE_MB = 10
MAX_FILE_SIZE_BYTES = MAX_FILE_SIZE_MB * 1024 * 1024

# Ordered strptime formats (app/utils/validators.py:69-78) with their
# Spark SQL datetime-pattern equivalents. Order is semantic: ambiguous
# dates resolve to the FIRST matching format.
DATE_FORMATS = [
    ("%m/%d/%Y", "MM/dd/yyyy"),
    ("%m-%d-%Y", "MM-dd-yyyy"),
    ("%Y-%m-%d", "yyyy-MM-dd"),
    ("%d/%m/%Y", "dd/MM/yyyy"),
    ("%B %d, %Y", "MMMM d, yyyy"),
    ("%b %d, %Y", "MMM d, yyyy"),
    ("%m/%d/%y", "MM/dd/yy"),
    ("%Y%m%d", "yyyyMMdd"),
]

# app/utils/validators.py:150-151
BOOL_INCLUDED = ["yes", "true", "included", "include", "y", "1", "on"]
BOOL_EXCLUDED = ["no", "false", "excluded", "exclude", "n", "0", "off"]

# app/utils/validators.py:180-232 (50 states + DC)
US_STATES = [
    "AL", "AK", "AZ", "AR", "CA", "CO", "CT", "DE", "FL", "GA",
    "HI", "ID", "IL", "IN", "IA", "KS", "KY", "LA", "ME", "MD",
    "MA", "MI", "MN", "MS", "MO", "MT", "NE", "NV", "NH", "NJ",
    "NM", "NY", "NC", "ND", "OH", "OK", "OR", "PA", "RI", "SC",
    "SD", "TN", "TX", "UT", "VT", "VA", "WA", "WV", "WI", "WY",
    "DC",
]

# $ per 1k tokens (app/services/pdf_processor.py:262-279)
MODEL_PRICING = {
    "gemini-1.5-flash": {"input": 0.000075, "output": 0.0003},
    "gemini-1.5-pro": {"input": 0.00125, "output": 0.005},
    "gemini-2.5-flash-preview-05-20": {"input": 0.00015, "output": 0.0006},
    "gemini-2.5-pro": {"input": 0.00125, "output": 0.0100},
}
DEFAULT_MODEL = "gemini-1.5-flash"

# The 18 extracted fields, in the reference's declaration order
# (app/models/extraction.py:15-46).
FIELD_NAMES = [
    "quote_number",
    "policy_effective_date",
    "policy_expiration_date",
    "named_insured_name",
    "named_insured_address",
    "additional_named_insured_name",
    "additional_named_insured_address",
    "issuing_carrier",
    "commission",
    "estimated_premium_amount",
    "minimum_earned_premium",
    "taxes",
    "tria",
    "waiver_of_subrogation_type",
    "workers_comp_each_accident_limit",
    "workers_comp_disease_each_employee",
    "workers_comp_disease_policy_limit",
    "workers_comp_exclusion_description",
]

# Boilerplate heuristic (north_star: repeated-line frequency per doc):
# a normalized line occurring on >= BOILERPLATE_MIN_FRAC of a doc's
# pages (docs with >= 2 pages) is header/footer boilerplate.
BOILERPLATE_MIN_FRAC = 0.6
BOILERPLATE_MIN_PAGES = 2

# Layout reconstruction: text runs whose baseline y falls in the same
# bin belong to one visual line. Corpus uses 20pt leading; bin of 4pt
# absorbs sub-point jitter while never merging adjacent lines.
Y_BIN_PT = 4.0

# Oversized-document sharding threshold for skew defusal (north rule):
# docs whose content exceeds this many bytes are split into page-range
# shards before the tokenize stage and reassembled after layout.
# MEASURED break-even (BENCH.md "Shard threshold break-even", fresh JVM per
# config, 8 cores, round 3): at 8-9 MB sharding costs +6% wall on the
# block fast path and saves 4% on the interpreter path — i.e. the 8 MB
# default threshold is wall-time NEUTRAL (within box noise), not the
# feared multi-second regression (that figure came from a 47 MB doc).
# Sharding's wall-time WIN is modest even for giants (1.22x at 140 MB,
# BENCH.md "Skew defusal") because only the tokenize stage parallelizes —
# the per-doc merge + layout/boilerplate remainder is serial per doc
# (Amdahl). Its real value at the default threshold is bounding
# executor memory (one doc = one Arrow batch otherwise) and capping
# straggler-task latency on the oversized tail. SHARD_SIZE_BYTES is
# the cap for callers that raise max_size_bytes; the pipeline derives
# the EFFECTIVE threshold as min(SHARD_SIZE_BYTES, max_size_bytes *
# SHARD_FRAC) so the shard path is always reachable under the active
# size limit (with the default 10 MB cap the threshold is 8 MB — a
# previous 64 MB-only default made sharding dead code at default
# config).
SHARD_SIZE_BYTES = 64 * 1024 * 1024
SHARD_FRAC = 0.8
SHARD_PAGES = 512

EXTRACTOR_VERSION = "0.1.0"
