"""End-to-end extraction plan.

Both entry points are built from one private plan function, ``_extract``:

    scan(documents_raw)
      → classify_rejects: size cap, format prefix, zero pages. Rejects
        are a side output (lineage), never silently dropped.
      → normal docs and all HTML: repartition on hash(doc_id), a
        salted spread over partitions (skipped when presalted) whose
        width AQE sizes from shuffle bytes and cores, then ONE fused
        Arrow kernel (tokenize → layout → boilerplate → assemble). One
        document is one row, so the kernel is a map.
      → oversized PDFs: page-range sharding → shard spread → per-shard
        kernel → groupBy(doc_id) merge. Only the skewed tail pays these
        shuffles, of page chunks and small line lists.
      → accepted (doc_id, spans, size_bytes) + rejects

``extract_documents`` returns the spans and the rejects;
``extract_results`` projects the spans into results rows
(:func:`build_results`) and appends one stub row per reject.

Reference lifecycle being re-expressed: POST /api/v1/extract
(app/api/routes/extraction.py:79-199 → app/services/pdf_processor.py:29-169).
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..constants import (
    DEFAULT_MODEL,
    EMPTY_VALUE,
    MAX_FILE_SIZE_BYTES,
    SHARD_FRAC,
    SHARD_PAGES,
    SHARD_SIZE_BYTES,
)
from ..operators.assemble import (
    decode_filters_udf,
    extract_spans_udf,
    merge_sharded_lines,
    shard_lines_udf,
    shard_offsets_udf,
)
from ..operators.fields import DOC_TEXT, extract_fields
from ..operators.html import format_expr, is_pdf_expr
from ..schema import DOCUMENTS_SIZED
from ..functions.confidence import confidence_map_expr, estimated_cost_expr, token_count_expr


def effective_shard_size(max_size_bytes: int, shard_size_bytes: int | None) -> int:
    """Resolve the shard threshold: an explicit value wins; otherwise
    min(SHARD_SIZE_BYTES, max_size_bytes * SHARD_FRAC) so the oversized
    path is reachable under whatever size cap is active (see
    constants.py for the measured break-even rationale)."""
    if shard_size_bytes is not None:
        return shard_size_bytes
    return min(SHARD_SIZE_BYTES, int(max_size_bytes * SHARD_FRAC))


def _prefix(df: DataFrame) -> Column:
    """The 5-byte format prefix: the stored ``magic`` column when the
    source has one, else a slice of ``content``."""
    if "magic" in df.columns:
        return F.col("magic")
    return F.substring(F.col("content").cast("binary"), 1, 5)


def classify_rejects(raw: DataFrame, max_size_bytes: int = MAX_FILE_SIZE_BYTES) -> DataFrame:
    """P1-P3: size cap (app/services/pdf_processor.py:355-360), format
    prefix (app/utils/file_helpers.py:15-50; PDF or HTML, see
    operators/html.format_expr), zero pages
    (app/services/pdf_processor.py:366-368).

    When the source carries a ``magic`` prefix column (written by
    render_documents_raw / any ingest that stores the first 5 bytes),
    the prefix check uses it instead of slicing ``content`` — so the
    reject branch of the extraction plan never references the content
    column and its scan prunes to metadata width. At corpus scale that
    is the difference between the reject side-output being free and it
    re-reading every content byte (the reject predicate itself is a
    CASE expression parquet cannot evaluate, so only column pruning —
    not row filtering — can save that scan).

    Contract: a present ``magic`` column must be non-null for every row
    with readable content — the render path always writes it, and
    ``read_table_evolved`` backfills it for legacy rows read through
    schema evolution. Under that contract ``magic IS NULL`` genuinely
    means unreadable content, so the fast path may reject on it without
    touching ``content``."""
    return raw.withColumn(
        "reject_reason",
        F.when(F.col("size_bytes") > max_size_bytes, "size_exceeds_limit")
        .when(format_expr(_prefix(raw)).isNull(), "invalid_pdf")
        .when(F.col("n_pages") <= 0, "no_pages"),
    )


def _extract(
    raw: DataFrame,
    max_size_bytes: int,
    shard_size_bytes: int | None,
    shard_pages: int,
    presalted: bool,
) -> tuple[DataFrame, DataFrame]:
    """The one extraction plan: raw → (accepted documents (doc_id, spans,
    size_bytes), rejects (doc_id, reject_reason, size_bytes)).
    size_bytes rides along so results assembly needs no join back to
    the raw table (a full-width shuffle at corpus scale).

    Only PDF documents take the oversized shard path: page-range
    sharding keys on ``%%PAGE`` markers, a PDF concept. Oversized HTML
    documents stay in the fused kernel — one doc is one Arrow row
    (byte-bounded batching already caps batch memory), so a giant HTML
    page is a bounded straggler task, not a correctness or memory
    hazard; at corpus scale such documents are a vanishing tail of the
    interleaved mix."""
    classified = classify_rejects(raw, max_size_bytes)
    rejects = classified.filter(F.col("reject_reason").isNotNull()).select(
        "doc_id", "reject_reason", "size_bytes"
    )
    ok = classified.filter(F.col("reject_reason").isNull()).drop("reject_reason")

    threshold = effective_shard_size(max_size_bytes, shard_size_bytes)
    is_pdf = is_pdf_expr(_prefix(ok))
    small = ok.filter((F.col("size_bytes") <= threshold) | ~is_pdf)
    # explicit salt: uniform hash spread of the fused-kernel docs over
    # partitions so a run of adjacent large documents cannot pile into
    # one task. No partition count: AQE sizes the exchange (see
    # extract_documents). Oversized PDFs are spread per shard instead,
    # after the page split (below).
    if not presalted:
        small = small.repartition(F.xxhash64("doc_id"))
    small_docs = small.select(
        "doc_id",
        extract_spans_udf("content", "media", "n_pages").alias("spans"),
        "size_bytes",
    )
    big = ok.filter((F.col("size_bytes") > threshold) & is_pdf)
    return small_docs.unionByName(_sharded_spans(big, shard_pages)), rejects


def _sharded_spans(big: DataFrame, shard_pages: int) -> DataFrame:
    """Oversized PDFs → (doc_id, spans, size_bytes): page-range shards,
    a per-shard kernel, and a merge per doc_id."""
    # filtered (compressed) oversized docs must be rewritten to plain
    # bytes BEFORE the %%PAGE marker scan and JVM-side slicing (see
    # decode_filters_udf, which returns plain documents unchanged); only
    # the oversized tail pays this extra Arrow round trip
    big = big.withColumn("content", decode_filters_udf("content"))
    # offsets-only sharding: bytes cross Arrow into Python once (marker
    # scan), chunks are sliced JVM-side INSIDE the transform that feeds
    # the explode. Slicing before the Generate matters: exploding
    # offsets first and slicing after would copy the FULL content
    # binary into every shard row (n_shards × doc bytes — measured as
    # the dominant cost of the old chunk-carrying path).
    # pre_len > 0 (font documents) prepends the document preamble —
    # font/resource objects — to the chunk: concat of two JVM-side
    # slices, still zero Python round trips for the bytes. base_offset
    # shifts down by pre_len so re-based offsets stay exact (the
    # preamble emits no runs).
    chunk_structs = F.transform(
        shard_offsets_udf("content", F.lit(shard_pages)),
        lambda so: F.struct(
            so["shard_idx"].alias("shard_idx"),
            F.concat(
                F.substring(F.col("content"), F.lit(1), so["pre_len"].cast("int")),
                F.substring(
                    F.col("content"), (so["start"] + 1).cast("int"), so["length"].cast("int")
                ),
            ).alias("chunk"),
            (so["start"] - so["pre_len"]).alias("base_offset"),
            so["base_page"].alias("base_page"),
        ),
    )
    shards = big.select(
        "doc_id",
        "n_pages",
        "media",
        "size_bytes",
        F.explode(chunk_structs).alias("shard"),
    )
    # CRITICAL: exploded shards land in the parent row's partition — one
    # giant doc's shards would tokenize serially in one task without
    # this spread (measured: sharding was net-negative before). Only the
    # oversized tail pays this extra chunked-bytes shuffle.
    shards = shards.repartition(F.xxhash64("doc_id", "shard.shard_idx"))
    shard_lines = shards.select(
        "doc_id",
        "n_pages",
        "media",
        "size_bytes",
        shard_lines_udf("shard.chunk", "shard.base_offset", "shard.base_page").alias("lines"),
    )
    return shard_lines.groupBy("doc_id").applyInPandas(
        merge_sharded_lines, schema=DOCUMENTS_SIZED
    )


def extract_documents(
    raw: DataFrame,
    max_size_bytes: int = MAX_FILE_SIZE_BYTES,
    shard_size_bytes: int | None = None,
    shard_pages: int = SHARD_PAGES,
    presalted: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """documents_raw → (documents(doc_id, spans), rejects).

    Salted (the default), the fused-kernel documents are repartitioned
    on ``xxhash64(doc_id)`` with no partition count: the exchange starts
    at ``spark.sql.shuffle.partitions`` and AQE coalesces it to the
    input's shuffle bytes and the cores, so a small input runs a few
    kernel tasks instead of a fixed width of Python tasks (BENCH.md
    "Per-task cost and the salt width").

    ``presalted``: the input is already spread (e.g. by
    render_documents_raw, by ``run_extract_job``'s bucket exchange, or
    a bucketed/multi-file parquet table read with
    ``files.maxPartitionBytes`` sizing) — skip the repartition so the
    content bytes are never shuffled a second time. Use salted mode
    when the layout is unknown or adversarial (few huge files, doc
    order correlated with size); measured on a balanced layout,
    presalted is strictly faster (BENCH.md).
    """
    sized, rejects = _extract(raw, max_size_bytes, shard_size_bytes, shard_pages, presalted)
    return sized.drop("size_bytes"), rejects.withColumn("status", F.lit("error"))


@contextmanager
def materialized_source(raw: DataFrame):
    """Persist a COMPUTED source once so the extraction plan's three
    branch subtrees (small-doc / oversized / reject — see
    :func:`extract_results`) read one materialization instead of each
    re-executing the source.

    Catalyst pushes every branch filter down to the source, which
    is the right plan over a pruned columnar scan but triples the
    source evaluation when the source is a UDF/join subtree (measured:
    the corpus-render stage ran 3x per action, ~35% of executor time;
    BENCH.md). ``MEMORY_AND_DISK`` keeps the materialized bytes
    spill-able — at cluster scale the per-executor cache is bounded by
    the executor's storage fraction, and a source too large to cache
    should be written to parquet and re-read instead (the
    extract_from_storage path), which also restores per-branch scan
    pruning.

    Usage::

        with materialized_source(render_documents_raw(reps)) as raw:
            extract_results(raw).write...

    The cache is dropped (non-blocking) on exit so repeated timed runs
    re-execute the source honestly."""
    persisted = raw.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        yield persisted
    finally:
        persisted.unpersist(blocking=False)


def extract_results(
    raw: DataFrame,
    max_size_bytes: int = MAX_FILE_SIZE_BYTES,
    shard_size_bytes: int | None = None,
    shard_pages: int = SHARD_PAGES,
    model_used: str = DEFAULT_MODEL,
    prompt_version: str = "v1",
    presalted: bool = False,
) -> DataFrame:
    """Single-pass flagship plan: raw docs → ONE results DataFrame that
    holds :func:`build_results` over ``_extract``'s accepted documents
    AND one stub row per reject (the reference stores failed
    extractions in the same `extractions` table,
    app/services/storage.py:167-306). One action writes both;
    ``presalted`` as in :func:`extract_documents`.

    Physical plan: each branch scans the source pruned and shuffles only
    its own subset. The small-doc branch pushes ``size_bytes <=
    threshold`` into parquet below its salt exchange, the oversized
    branch ``size_bytes > threshold AND magic = '%PDF-'``, and the
    reject branch reads only metadata-width columns (no ``content``)
    when the source has a ``magic`` column (see classify_rejects).

    A COMPUTED (non-scan) source — a render/decode UDF stage, a join —
    is re-executed once per branch (BENCH.md "computed-source triple
    evaluation"); wrap it in :func:`materialized_source`."""
    sized, rejects = _extract(raw, max_size_bytes, shard_size_bytes, shard_pages, presalted)
    results = build_results(sized, model_used=model_used, prompt_version=prompt_version)
    reject_stubs = rejects.select(
        "doc_id",
        F.col("size_bytes").alias("file_size"),
        F.lit("error").alias("status"),
        F.lit(model_used).alias("model_used"),
        F.lit(prompt_version).alias("prompt_version"),
        F.array(F.concat(F.lit("rejected: "), F.col("reject_reason"))).alias("warnings"),
    )
    return results.unionByName(reject_stubs, allowMissingColumns=True)


def build_results(
    documents: DataFrame,
    model_used: str = DEFAULT_MODEL,
    prompt_version: str = "v1",
) -> DataFrame:
    """documents(doc_id, spans) → results rows mirroring the reference's
    extractions table (app/services/storage.py:29-54): 18-field record,
    validation errors/warnings, status, confidence scores, deterministic
    token/cost metrics. A ``size_bytes`` column carried through the
    kernel stage (``_extract``'s accepted documents) becomes
    ``file_size``."""
    rec = extract_fields(documents)
    fields = _field_cols(rec)
    out_tok = (F.length(F.to_json(F.struct(*[F.col(f) for f in fields]))) / 4).cast("long")
    # A9: count of extracted (non-sentinel) fields
    non_empty = F.size(
        F.filter(
            F.array(*[F.col(f).cast("string") for f in fields]),
            lambda v: v.isNotNull() & (v != EMPTY_VALUE) & (v != "[]"),
        )
    )
    # batched projections (withColumn chains cost serial driver seconds
    # re-analyzing this plan); second select for columns derived from
    # input/output_tokens so those evaluate once per row
    rec = rec.select(
        "*",
        confidence_map_expr(F.col(DOC_TEXT)).alias("confidence_scores"),
        token_count_expr(F.col(DOC_TEXT)).alias("input_tokens"),
        out_tok.alias("output_tokens"),
        F.lit(model_used).alias("model_used"),
        F.lit(prompt_version).alias("prompt_version"),
        # nested record mirroring the reference's extracted_data JSON
        # blob (native struct, app/services/storage.py:233-236)
        F.struct(*[F.col(f) for f in fields]).alias("extracted_data"),
        # failed field names from the structured error messages
        # ("<field>: <message>"); cf. the reference's regex scrape F17
        F.array_distinct(
            F.transform(F.col("validation_errors"), lambda e: F.split(e, ":").getItem(0))
        ).alias("failed_fields"),
        non_empty.alias("extracted_fields"),
    )
    rec = rec.select(
        "*",
        (F.col("input_tokens") + F.col("output_tokens")).alias("total_tokens"),
        estimated_cost_expr("input_tokens", "output_tokens", model_used).alias("estimated_cost"),
    )
    return rec.withColumnRenamed("size_bytes", "file_size").drop(DOC_TEXT)


def _field_cols(df: DataFrame) -> list[str]:
    from ..constants import FIELD_NAMES

    return [f for f in FIELD_NAMES if f in df.columns]
