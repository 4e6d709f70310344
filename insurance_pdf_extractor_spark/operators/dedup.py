"""Deduplication operators for large-scale document corpora.

Hot-path computation is JVM-side column expressions where Catalyst
codegen applies (hashing, filters, joins) and numpy-vectorized
pandas_udfs where it does not (the per-slot MinHash minima and SimHash
bit votes — Spark higher-order-function lambdas are interpreted per
element, measured ~10× slower than one Arrow round-trip). No per-row
Python anywhere. Scale notes per operator:

- exact dedup: one hash-shuffle on the fingerprint; the fingerprint is
  computed map-side so the shuffle carries (fp, id), not text.
- MinHash+LSH: signatures are computed map-side; candidate generation
  shuffles only (band_key, id) pairs; verification joins re-read text
  for candidates only. At 10^12 docs the band shuffle is the dominant
  cost and is tunable via (n_hashes, bands).
- SimHash: 64-bit fingerprint computed map-side; near-dup blocking on
  16-bit chunks (hamming<=3 within 4 chunks guarantee).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def normalize_text_expr(col: Column) -> Column:
    return F.lower(F.trim(F.regexp_replace(col, r"\s+", " ")))


def fingerprint_expr(col: Column) -> Column:
    """Exact-dup fingerprint: md5 of normalized text."""
    return F.md5(normalize_text_expr(col))


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Hash-groupBy exact dedup: one row per distinct normalized text,
    keeping the min id (deterministic winner)."""
    return (
        df.withColumn("fp", fingerprint_expr(F.col(text_col)))
        .groupBy("fp")
        .agg(F.min(id_col).alias("keeper_id"), F.count("*").alias("n_dups"))
    )


def words_expr(col: Column) -> Column:
    return F.split(normalize_text_expr(col), " ")


#: Mersenne prime 2^31-1: the modulus of the token hashes, the k-gram
#: rolling hash and the affine MinHash permutations, here and in
#: text_quality's winnowing. Every operand stays below 2^31, so every
#: product fits in 62 bits — exact in int64 with no silent wraparound.
_MINHASH_P = 2147483647


def minhash_signature_from_token_hashes(
    tok_hashes: Column, k: int = 3, n_hashes: int = 64
) -> Column:
    """Fused k-gram + MinHash kernel: per-token hashes (ONE interpreted
    HOF pass over words, :func:`token_hashes_expr`) → numpy rolling
    polynomial k-gram hashes → affine-permutation minima ``(g*a_i +
    b_i) mod P``, all in a single Arrow round-trip — vectorized
    arithmetic on the token hash array, never a string per shingle.
    Documents shorter than ``k`` get the sentinel ``[P] * n_hashes`` so
    they never band-collide with real content."""
    P = _MINHASH_P
    B = 1_000_003
    A = (np.arange(n_hashes, dtype=np.int64) * 2 + 1) % P
    Bc = (np.arange(n_hashes, dtype=np.int64) * 0x9E3779B9) % P
    coeffs = np.array([pow(B, k - 1 - j, P) for j in range(k)], dtype=np.int64)
    empty = [P] * n_hashes

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def sig(h: pd.Series) -> pd.Series:
        out = []
        for arr in h:
            if arr is None or len(arr) < k:
                out.append(empty)
                continue
            v = np.asarray(arr, dtype=np.int64)
            n = len(v) - k + 1
            grams = np.zeros(n, dtype=np.int64)
            for j in range(k):
                grams = (grams + (v[j : j + n] * coeffs[j]) % P) % P
            out.append(((grams[None, :] * A[:, None] + Bc[:, None]) % P).min(axis=1).tolist())
        return pd.Series(out)

    return sig(tok_hashes)


def token_hashes_expr(col: Column) -> Column:
    """Per-word 31-bit hashes (single interpreted-HOF pass)."""
    return F.transform(words_expr(col), lambda t: F.pmod(F.xxhash64(t), F.lit(_MINHASH_P)))


def band_rows(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
) -> DataFrame:
    """SLIM (id, band, band_key) LSH band rows — the unit both the
    within-corpus and the cross-batch near-dup paths bucket on. At
    corpus scale the band shuffle dominates; carrying wordsets here
    would multiply the shuffle payload by bands× the vocabulary."""
    rows_per_band = n_hashes // bands
    # two-step projection: token hashes once (JVM pass), then the fused
    # k-gram+signature kernel over the shared hash column
    hashed = df.select(
        F.col(id_col).alias("id"), token_hashes_expr(F.col(text_col)).alias("h")
    )
    sig = hashed.select(
        "id", minhash_signature_from_token_hashes(F.col("h"), shingle_k, n_hashes).alias("sig")
    )
    return sig.select(
        "id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.xxhash64(F.array_join(F.slice("sig", b * rows_per_band + 1, rows_per_band), ",")).alias(
                        "band_key"
                    ),
                ),
            )
        ).alias("bk"),
    ).select("id", "bk.band", "bk.band_key")


def _wordsets(df: DataFrame, text_col: str, id_col: str, out_id: str, out_ws: str) -> DataFrame:
    return df.select(
        F.col(id_col).alias(out_id), F.array_distinct(words_expr(F.col(text_col))).alias(out_ws)
    )


def _verified_jaccard(cand: DataFrame, min_jaccard: float) -> DataFrame:
    inter = F.size(F.array_intersect("ws_a", "ws_b"))
    union = F.size(F.array_union("ws_a", "ws_b"))
    jac = F.when(union > 0, inter / union).otherwise(F.lit(0.0))
    return cand.withColumn("jaccard", jac).filter(F.col("jaccard") >= min_jaccard)


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    min_jaccard: float = 0.7,
) -> DataFrame:
    """Near-duplicate pairs via MinHash banding + exact-Jaccard verify.

    Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard >= min.
    """
    banded = band_rows(df, text_col, id_col, n_hashes, bands, shingle_k)

    left = banded.alias("a")
    right = banded.alias("b")
    cand = (
        left.join(
            right,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    # exact-Jaccard verification joins wordsets back for CANDIDATES only
    pairs = cand.join(_wordsets(df, text_col, id_col, "id_a", "ws_a"), "id_a").join(
        _wordsets(df, text_col, id_col, "id_b", "ws_b"), "id_b"
    )
    return _verified_jaccard(pairs, min_jaccard).select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
    )


def write_band_table(
    history: DataFrame,
    table_name: str,
    path: str,
    n_buckets: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    mode: str = "overwrite",
) -> None:
    """Materialize the history LSH band table the near-dup half of
    continuous ingestion probes — the :func:`write_fingerprint_table`
    discipline applied to :func:`incremental_near_dup_pairs`: band rows
    are a pure function of history text, so at 10^12 docs they are
    computed ONCE per corpus epoch and stored BUCKETED by
    (band, band_key), the candidate join's keys, so every subsequent
    ingest batch's probe reads the history side with ZERO exchange —
    only the batch's slim (id, band, band_key) rows shuffle to the
    bucket layout. ``mode='append'`` is the per-ingest update: append
    the accepted batch's band rows after its quality gates pass.

    The table stores (hist_id, band, band_key); re-derive nothing at
    probe time. Use the SAME (n_hashes, bands, shingle_k) when probing
    — a mismatched banding scheme silently finds nothing.

    Reference anchor: continuous-ingest generalization of the storage
    dedup discipline (/root/reference/app/services/storage.py:167-306).
    """
    hb = band_rows(history, text_col, id_col, n_hashes, bands, shingle_k).withColumnRenamed(
        "id", "hist_id"
    )
    (
        hb.write.mode(mode)
        .option("path", path)
        .format("parquet")
        .bucketBy(n_buckets, "band", "band_key")
        .sortBy("band", "band_key")
        .saveAsTable(table_name)
    )


def incremental_near_dup_pairs(
    batch: DataFrame,
    history: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    min_jaccard: float = 0.7,
    hist_bands: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate pairs BETWEEN a new ingest batch and the
    already-accepted history — the near-dup half of continuous
    ingestion (the exact half is :func:`incremental_dedup`). Returns
    (batch_id, hist_id, jaccard), jaccard >= min.

    Scale shape: history band rows are a pure function of history text,
    so at 10^12 docs they are computed ONCE per corpus and stored
    BUCKETED by (band, band_key) via :func:`write_band_table`; pass
    that table as ``hist_bands`` and the candidate join shuffles only
    the batch's slim (id, band, band_key) rows against it — the
    history side is read exchange-free, and micro-batch loops reuse
    one table across calls instead of re-banding history text per
    batch (the ``hist_fp``/``bitmaps`` pattern of
    :func:`incremental_dedup`). Without ``hist_bands`` the band rows
    are derived live from ``history`` — the convenience path.
    ``history`` text is still required either way: exact-Jaccard
    verification joins wordsets back for candidates only. Unlike the
    within-corpus path there is no id_a < id_b constraint — the sides
    are distinct tables (a doc present in both yields its own (id, id)
    pair, which is exactly the "already accepted" signal).
    """
    bb = band_rows(batch, text_col, id_col, n_hashes, bands, shingle_k).withColumnRenamed(
        "id", "batch_id"
    )
    hb = (
        hist_bands.select("hist_id", "band", "band_key")
        if hist_bands is not None
        else band_rows(history, text_col, id_col, n_hashes, bands, shingle_k).withColumnRenamed(
            "id", "hist_id"
        )
    )
    cand = (
        bb.join(hb, ["band", "band_key"])
        .select("batch_id", "hist_id")
        .dropDuplicates(["batch_id", "hist_id"])
    )
    pairs = cand.join(_wordsets(batch, text_col, id_col, "batch_id", "ws_a"), "batch_id").join(
        _wordsets(history, text_col, id_col, "hist_id", "ws_b"), "hist_id"
    )
    return _verified_jaccard(pairs, min_jaccard).select(
        "batch_id", "hist_id", F.round("jaccard", 6).alias("jaccard")
    )


def simhash_expr(text_col: Column, bits: int = 64) -> Column:
    """SimHash fingerprint as a signed 64-bit long: per-token xxhash64
    (JVM-side, one pass), then a numpy-vectorized pandas_udf for the
    per-bit majority vote + bit packing (the expression form — aggregate
    × zip_with × 64 bit lanes — is interpreted per element and was the
    slowest expression in the suite)."""
    shifts = np.arange(bits, dtype=np.uint64)

    @F.pandas_udf(T.LongType())
    def pack(h: pd.Series) -> pd.Series:
        out = np.zeros(len(h), dtype=np.int64)
        for i, arr in enumerate(h):
            if arr is None or len(arr) == 0:
                continue
            v = np.asarray(arr, dtype=np.int64).view(np.uint64)
            ones = ((v[:, None] >> shifts[None, :]) & np.uint64(1)).sum(axis=0)
            votes = 2 * ones.astype(np.int64) - len(v)  # ones - zeros
            fp = int((((votes > 0).astype(np.uint64)) << shifts).sum(dtype=np.uint64))
            out[i] = fp - (1 << 64) if fp >= (1 << 63) else fp  # reinterpret as signed
        return pd.Series(out)

    token_hashes = F.transform(words_expr(text_col), lambda t: F.xxhash64(t))
    return pack(token_hashes)


def simhash_near_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs by SimHash: block on 16-bit chunks (pigeonhole —
    hamming<=3 over 64 bits means at least one of 4 chunks is equal),
    verify with bit_count(xor)."""
    fp = df.select(F.col(id_col).alias("id"), simhash_expr(F.col(text_col)).alias("fp"))
    chunks = fp.select(
        "id",
        "fp",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftright(F.col("fp"), c * 16).bitwiseAND(F.lit(0xFFFF)).alias("chunk_val"),
                    )
                    for c in range(4)
                ]
            )
        ).alias("ck"),
    ).select("id", "fp", "ck.chunk", "ck.chunk_val")
    a, b = chunks.alias("a"), chunks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.chunk_val") == F.col("b.chunk_val"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.fp").alias("fp_a"),
            F.col("b.fp").alias("fp_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    ham = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    return cand.withColumn("hamming", ham).filter(F.col("hamming") <= max_hamming).select(
        "id_a", "id_b", "hamming"
    )


def dedup_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components over a near-duplicate pair graph — the step
    after pair generation in a training-data dedup pipeline: groups of
    mutually-near documents become clusters, and the cluster id (the
    component's minimum node id) names the canonical document to keep.

    Returns (id, cluster_id) for every node appearing in ``pairs``;
    isolated documents never enter the graph, so callers re-attach them
    with a left join + ``coalesce(cluster_id, doc_id)``.

    Algorithm: min-label propagation with pointer doubling
    (label ← label(label), i.e. path halving), pure DataFrame ops — the
    hash-to-min family of MapReduce connected-components algorithms
    (Rastogi et al., "Finding Connected Components in Map-Reduce in
    Logarithmic Rounds", ICDE 2013). Doubling makes convergence
    O(log diameter) rounds, not O(diameter): a 10^6-long chain of
    chained near-dups resolves in ~20 rounds instead of 10^6.

    Scale audit (BENCH.md table): each round shuffles slim (node,
    label) longs — 16 bytes/row — twice (one groupBy-min over edges,
    one self-join for the doubling); edges are shuffled once per round
    at (src, dst) width. Near-dup graphs at corpus scale are sparse
    (pairs ≪ docs), so every shuffle is bounded by the pair count, not
    the corpus. Each round ends with ``localCheckpoint`` to truncate
    lineage — iterative self-joins otherwise grow the logical plan
    exponentially and stall the driver long before the executors; a
    cluster deployment would use ``checkpoint()`` to reliable storage
    so a lost executor cannot orphan the truncated lineage. The
    per-round convergence test is a count() whose RESULT is O(1) — an
    unavoidable driver action for an iterative fixpoint, not a data
    collect.
    """
    e = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .filter(F.col("src").isNotNull() & F.col("dst").isNotNull() & (F.col("src") != F.col("dst")))
    )
    sym = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))).distinct()
    sym = sym.localCheckpoint(eager=False)

    # seed: label(v) = min(v, min neighbor) — one groupBy over the
    # symmetrized edges; every graph node appears as a src there.
    lab = (
        sym.groupBy("src")
        .agg(F.min("dst").alias("_mn"))
        .select(F.col("src").alias("node"), F.least(F.col("src"), F.col("_mn")).alias("label"))
        .localCheckpoint(eager=False)
    )

    for _ in range(max_iter):
        # propagate: each node takes the min label over its neighbors
        nbr = (
            sym.join(lab.withColumnRenamed("node", "src"), "src")
            .groupBy("dst")
            .agg(F.min("label").alias("_nl"))
            .withColumnRenamed("dst", "node")
        )
        # eager checkpoint: ``stepped`` feeds BOTH sides of the doubling
        # self-join below — unmaterialized, the propagation join would
        # run twice per round.
        stepped = (
            lab.join(nbr, "node", "left")
            .select("node", F.least(F.col("label"), F.coalesce(F.col("_nl"), F.col("label"))).alias("label"))
            .localCheckpoint(eager=True)
        )
        # pointer doubling: label ← label(label). Labels are always node
        # ids within the same component (induction from the seed), so
        # the lookup is a self-join on the label table.
        nxt = (
            stepped.alias("x")
            .join(
                stepped.select(F.col("node").alias("label"), F.col("label").alias("_ll")).alias("y"),
                "label",
                "left",
            )
            .select("node", F.least(F.col("label"), F.coalesce(F.col("_ll"), F.col("label"))).alias("label"))
            .localCheckpoint(eager=True)
        )
        changed = (
            nxt.withColumnRenamed("label", "_new")
            .join(lab, "node")
            .filter(F.col("_new") != F.col("label"))
            .count()
        )
        lab = nxt
        if changed == 0:
            break
    else:
        # fixpoint not reached — labels are an UNDER-merged clustering
        # (every label is still a component member, but two labels may
        # name the same component). With doubling this needs a graph
        # whose diameter exceeds ~2^max_iter-ish growth — practically
        # impossible — so surface it loudly rather than silently.
        import warnings

        warnings.warn(
            f"dedup_clusters: no fixpoint after max_iter={max_iter} rounds "
            f"({changed} labels still changing) — clusters may be split; "
            "raise max_iter",
            stacklevel=2,
        )

    return lab.select(F.col("node").alias("id"), F.col("label").alias("cluster_id"))


def duplicated_window_positions(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 40,
    stride: int = 20,
    min_count: int = 2,
) -> DataFrame:
    """Exact substring-duplication seeds: every ``window``-char slice
    (sampled on a ``stride`` grid) whose content appears >= ``min_count``
    times anywhere in the corpus — including twice inside one document,
    matching the "duplicate substring" definition of Lee et al. 2022
    ("Deduplicating Training Data Makes Language Models Better"). Their
    suffix array is a single-machine structure; the scalable Spark
    reformulation is window hashing:

    * windows are enumerated JVM-side (``sequence`` + ``explode`` +
      ``substr``) and keyed by ``xxhash64`` — the duplicate-count
      shuffle carries an 8-byte key, never text;
    * the count aggregate is a map-side-combining groupBy producing the
      slim (key) set of duplicated window hashes, joined back to the
      positions. Boilerplate shared by millions of documents makes hot
      keys on that join — the dup-key side is (key)-only so AQE's
      skew-join split (or a broadcast when the dup set is small)
      absorbs it;
    * the ``stride`` grid trades recall for cost: a duplicated region
      is detected once it covers a full grid-aligned window, i.e.
      guaranteed above ``window + stride - 1`` chars, probabilistic
      below. stride == window/2 mirrors the common production setting.

    Returns (id, pos, end) for each duplicated window occurrence.
    """
    if stride <= 0 or window <= 0:
        raise ValueError("window and stride must be positive")
    base = docs.select(id_col, text_col).filter(F.length(text_col) >= window)
    w = base.select(
        F.col(id_col),
        F.explode(F.sequence(F.lit(0), F.length(text_col) - window, F.lit(stride))).alias("pos"),
        F.col(text_col),
    ).select(
        id_col,
        "pos",
        F.xxhash64(F.col(text_col).substr(F.col("pos") + 1, F.lit(window))).alias("k"),
    )
    dup_keys = w.groupBy("k").count().filter(F.col("count") >= min_count).select("k")
    return w.join(dup_keys, "k").select(
        id_col, "pos", (F.col("pos") + window).alias("end")
    )


def contamination_hits(
    train: DataFrame,
    bench: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str = "text",
    window: int = 40,
    train_stride: int = 20,
) -> DataFrame:
    """Benchmark decontamination: per training document, how many of
    its ``train_stride``-grid windows appear VERBATIM anywhere in the
    benchmark corpus (the train/test-overlap scan GPT-3/PaLM-style
    pipelines run before training).

    Asymmetric enumeration is the scalable shape: the benchmark side is
    small, so its windows are enumerated at stride 1 (every substring
    of length ``window``) and reduced to a DISTINCT xxhash64 key set;
    the training side — the 10^12-doc corpus — pays only the stride
    grid. A shared region of at least ``window + train_stride - 1``
    chars must contain a grid-aligned training window, and stride-1
    benchmark enumeration covers every benchmark substring, so
    detection above that length is GUARANTEED (probabilistic below,
    same recall contract as duplicated_window_positions).

    The join carries (id, pos, 8-byte key) on the train side and bare
    keys on the bench side; the key set is broadcast to executors, so
    the scan is map-side — zero shuffle of the
    training corpus. Returns every training doc: (id, n_hits,
    first_hit_pos) with (0, -1) for clean docs.
    """
    tw = (
        train.select(id_col, text_col)
        .filter(F.length(text_col) >= window)
        .select(
            F.col(id_col),
            F.explode(
                F.sequence(F.lit(0), F.length(text_col) - window, F.lit(train_stride))
            ).alias("pos"),
            F.col(text_col),
        )
        .select(
            id_col,
            "pos",
            F.xxhash64(F.col(text_col).substr(F.col("pos") + 1, F.lit(window))).alias("k"),
        )
    )
    bw = (
        bench.select(bench_text_col)
        .filter(F.length(bench_text_col) >= window)
        .select(
            F.explode(
                F.sequence(F.lit(0), F.length(bench_text_col) - window, F.lit(1))
            ).alias("bpos"),
            F.col(bench_text_col),
        )
        .select(
            F.xxhash64(
                F.col(bench_text_col).substr(F.col("bpos") + 1, F.lit(window))
            ).alias("k")
        )
        .distinct()
    )
    hits = tw.join(F.broadcast(bw), "k").groupBy(id_col).agg(
        F.count("*").alias("n_hits"), F.min("pos").alias("first_hit_pos")
    )
    return (
        train.select(id_col)
        .join(hits, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_hits", F.lit(0).cast("long")).alias("n_hits"),
            F.coalesce("first_hit_pos", F.lit(-1).cast("long")).alias("first_hit_pos"),
        )
    )


def merged_dup_islands(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 40,
    stride: int = 20,
    min_count: int = 2,
) -> DataFrame:
    """Maximal duplicated spans per document: the gaps-and-islands merge
    of :func:`duplicated_window_positions` hits (a window opens a new
    island iff its start exceeds the running max end of all earlier
    windows), entirely in window functions partitioned BY DOCUMENT —
    frames bounded by windows-per-doc (len/stride), never corpus size.
    Returns (id, island, s, e) with 0-based half-open [s, e) spans.
    Shared by the stats view (:func:`duplicated_ngram_spans`) and the
    rewrite (:func:`remove_duplicated_spans`)."""
    dw = duplicated_window_positions(docs, id_col, text_col, window, stride, min_count)
    by_doc = Window.partitionBy(id_col).orderBy("pos")
    prev_max_end = F.max("end").over(by_doc.rowsBetween(Window.unboundedPreceding, -1))
    islands = dw.withColumn(
        "island",
        F.sum((F.col("pos") > F.coalesce(prev_max_end, F.lit(-1))).cast("int")).over(
            by_doc.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return islands.groupBy(id_col, "island").agg(
        F.min("pos").alias("s"), F.max("end").alias("e")
    )


def remove_duplicated_spans(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 40,
    stride: int = 20,
    min_count: int = 2,
) -> DataFrame:
    """The curation ACTION behind :func:`duplicated_ngram_spans`: emit
    each document with its duplicated spans cut out (Lee et al. 2022
    apply exactly this rewrite before training). Relational end to end
    — no UDF:

    * kept segments are the complement intervals of the merged islands,
      derived with one ``lag(e)`` window per document (frames bounded
      by spans-per-doc);
    * each segment is a JVM-side ``substr`` — document text is touched
      only on the doc's own rows, never shuffled beyond the island
      join;
    * the ordered reassembly is ``array_sort(collect_list(struct(ord,
      piece)))`` + concat, the distributed ORDER-BY-inside-group shape
      (DuckDB mirrors it 1:1 with ``string_agg(... ORDER BY)``), so the
      gate can value-check the rewritten text exactly (md5).

    Returns every input document: (id, text_clean, removed_chars) with
    text_clean == text and removed_chars == 0 for clean docs. Invariant
    (pinned by tests + gate): length(text_clean) == length(text) -
    dup_chars from :func:`duplicated_ngram_spans`.
    """
    spans = merged_dup_islands(docs, id_col, text_col, window, stride, min_count)
    text = docs.select(id_col, text_col)
    by_doc = Window.partitionBy(id_col).orderBy("s")
    segs = spans.select(
        id_col, "s", "e", F.lag("e", 1, 0).over(by_doc).alias("prev_e")
    )
    body = segs.join(text, id_col).select(
        id_col,
        F.col("s").cast("long").alias("ord"),
        F.col(text_col).substr(F.col("prev_e") + 1, F.col("s") - F.col("prev_e")).alias("piece"),
    )
    tail = (
        spans.groupBy(id_col)
        .agg(F.max("e").alias("mx"))
        .join(text, id_col)
        .select(
            id_col,
            (F.length(text_col) + 1).cast("long").alias("ord"),
            F.col(text_col)
            .substr(F.col("mx") + 1, F.greatest(F.length(text_col) - F.col("mx"), F.lit(0)))
            .alias("piece"),
        )
    )
    rebuilt = (
        body.unionByName(tail)
        .groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("ord", "piece"))),
                    lambda x: x["piece"],
                ),
                "",
            ).alias("_clean"),
        )
    )
    removed = spans.groupBy(id_col).agg(F.sum(F.col("e") - F.col("s")).alias("_removed"))
    return (
        docs.select(id_col, text_col)
        .join(rebuilt, id_col, "left")
        .join(removed, id_col, "left")
        .select(
            id_col,
            F.coalesce("_clean", F.col(text_col)).alias("text_clean"),
            F.coalesce("_removed", F.lit(0).cast("long")).alias("removed_chars"),
        )
    )


def duplicated_ngram_spans(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 40,
    stride: int = 20,
    min_count: int = 2,
) -> DataFrame:
    """Per-document duplicated-substring statistics: merge each doc's
    duplicated windows (from :func:`duplicated_window_positions`) into
    maximal spans and report (doc_id, dup_spans, dup_chars,
    dup_fraction) for EVERY document (clean docs report zeros).

    Span merging is the classic gaps-and-islands rewrite — a window
    opens a new island iff its start exceeds the running max end of
    all earlier windows — entirely in Spark window functions
    partitioned BY DOCUMENT: frames are bounded by windows-per-doc
    (len/stride), never corpus size, so the WindowExec never sees an
    unbounded partition at any scale. Downstream span-cutting (emit
    text with dup spans removed) is one more join of these spans back
    to text; the stats frame is what a dedup-rate dashboard and the
    keep/drop policy consume.
    """
    spans = merged_dup_islands(docs, id_col, text_col, window, stride, min_count)
    per_doc = spans.groupBy(id_col).agg(
        F.count("*").alias("dup_spans"), F.sum(F.col("e") - F.col("s")).alias("dup_chars")
    )
    return (
        docs.select(id_col, F.length(text_col).alias("_len"))
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("dup_spans", F.lit(0).cast("long")).alias("dup_spans"),
            F.coalesce("dup_chars", F.lit(0).cast("long")).alias("dup_chars"),
            F.round(
                F.coalesce("dup_chars", F.lit(0).cast("long")) / F.greatest("_len", F.lit(1)), 4
            ).alias("dup_fraction"),
        )
    )


# ---------------------------------------------------------------------------
# Incremental (cross-batch) exact dedup — Bloom prefilter + exact confirm
# ---------------------------------------------------------------------------
# A continuously-ingested corpus dedups each new batch against the
# 10^12-doc history it has already accepted. Anti-joining the WHOLE
# batch against the whole history shuffles both sides; the Bloom
# filter routes the overwhelmingly-common case (genuinely new text)
# around the join entirely, so the join's batch side carries only
# ~dup_rate + fpp of the rows. The result is EXACT regardless of fpp:
# bloom-negatives are *definitely* unseen (kept, no join), and
# bloom-positives are confirmed with a real anti-join.


def _bloom_positions(keys_u64: np.ndarray, n_bits: int, n_hashes: int) -> np.ndarray:
    """(n_hashes, n) probe positions via Kirsch–Mitzenmacher double
    hashing of the key's two 32-bit halves (h2 forced odd so the probe
    sequence has full period in the power-of-two table)."""
    h1 = keys_u64 >> np.uint64(32)
    h2 = (keys_u64 & np.uint64(0xFFFFFFFF)) | np.uint64(1)
    i = np.arange(n_hashes, dtype=np.uint64)[:, None]
    return (h1[None, :] + i * h2[None, :]) & np.uint64(n_bits - 1)


def _shard_of(keys_u64: np.ndarray, n_shards: int) -> np.ndarray:
    """Fingerprint-RANGE shard: the top log2(n_shards) bits of the
    64-bit key, so a shard is a contiguous key range and a history
    table PARTITIONED by this value lets a per-shard bitmap (re)build
    prune to one partition directory."""
    if n_shards == 1:
        return np.zeros(len(keys_u64), dtype=np.uint64)
    return keys_u64 >> np.uint64(64 - (n_shards.bit_length() - 1))


def shard_expr(key: Column, n_shards: int) -> Column:
    """Spark-side twin of :func:`_shard_of` (int64 arithmetic: shift
    the sign bit away by flipping to unsigned order via xor is not
    needed — Java >>> is shiftrightunsigned)."""
    if n_shards == 1:
        return F.lit(0).cast("int")
    return F.shiftrightunsigned(key, 64 - (n_shards.bit_length() - 1)).cast("int")


def bloom_bitmaps(
    df: DataFrame,
    key_col: str,
    n_bits: int = 1 << 20,
    n_hashes: int = 5,
    n_shards: int = 1,
) -> np.ndarray:
    """Build fingerprint-range-sharded Bloom bitmaps over an int64 key
    column EXECUTOR-side: per partition, one packed uint64 bitmap per
    shard SEEN IN THAT PARTITION via mapInPandas (the treeAggregate
    shape Spark's own ``df.stat.bloomFilter`` uses), then OR-merged per
    shard on the driver. Returns shape (n_shards, n_bits/64); driver
    traffic is (#partitions x shards-per-partition) x n_bits/8 bytes.

    Sharding is the 10^12-history answer the single-bitmap design
    can't give: ``n_bits`` is PER SHARD, so total filter capacity
    scales as n_shards x n_bits with per-task memory bounded by the
    shards a partition actually contains — over a history table
    partitioned by :func:`shard_expr` that is exactly ONE bitmap per
    task, and a single shard's bitmap can be rebuilt by scanning one
    partition directory (see :func:`write_fingerprint_table`).

    Warns when any shard's fill fraction exceeds 50%: a saturated
    bitmap answers "maybe" for everything — still correct (the confirm
    join is exact) but pure overhead, the silent-degradation mode the
    r3 advice flagged. Size n_bits at ~10 bits/key/shard for 1% fpp.
    """
    if n_bits & (n_bits - 1):
        raise ValueError(f"n_bits must be a power of two, got {n_bits}")
    if n_shards & (n_shards - 1):
        raise ValueError(f"n_shards must be a power of two, got {n_shards}")
    n_words = n_bits >> 6
    out_schema = T.StructType(
        [T.StructField("shard", T.IntegerType()), T.StructField("bits", T.BinaryType())]
    )

    def build(batches):
        shard_bits: dict[int, np.ndarray] = {}
        for pdf in batches:
            if pdf.empty:
                continue
            k = pdf[key_col].to_numpy(np.int64).view(np.uint64)
            shards = _shard_of(k, n_shards)
            for s in np.unique(shards):
                bits = shard_bits.setdefault(int(s), np.zeros(n_words, dtype=np.uint64))
                pos = _bloom_positions(k[shards == s], n_bits, n_hashes).ravel()
                np.bitwise_or.at(
                    bits, pos >> np.uint64(6), np.uint64(1) << (pos & np.uint64(63))
                )
        if shard_bits:
            yield pd.DataFrame(
                {
                    "shard": list(shard_bits),
                    "bits": [b.tobytes() for b in shard_bits.values()],
                }
            )

    acc = np.zeros((n_shards, n_words), dtype=np.uint64)
    for row in df.select(key_col).mapInPandas(build, out_schema).collect():
        acc[row["shard"]] |= np.frombuffer(row["bits"], dtype=np.uint64)
    fill = bloom_fill_fractions(acc)
    worst = float(fill.max()) if len(fill) else 0.0
    if worst > 0.5:
        import warnings

        warnings.warn(
            f"bloom bitmap saturated: max shard fill {worst:.2f} > 0.5 "
            f"(n_bits={n_bits}, n_shards={n_shards}) — the filter degrades to "
            "pass-through and every row pays the confirm join; raise n_bits or n_shards",
            stacklevel=2,
        )
    return acc


def bloom_fill_fractions(bitmaps: np.ndarray) -> np.ndarray:
    """Per-shard fraction of set bits (popcount / n_bits)."""
    b2 = np.atleast_2d(bitmaps)
    ones = np.unpackbits(b2.view(np.uint8), axis=1).sum(axis=1)
    return ones / (b2.shape[1] * 64)


def _pow2_ceil(x: int) -> int:
    return 1 << max(0, (int(x) - 1).bit_length())


def auto_bloom_params(
    hist_fp: DataFrame,
    key_col: str = "__bk",
    bits_per_key: int = 10,
    min_bits: int = 1 << 16,
    max_bits_per_shard: int = 1 << 27,
) -> tuple[int, int]:
    """Size the sharded Bloom filter FROM THE HISTORY ITSELF: one
    ``approx_count_distinct`` over the slim fingerprint frame (HLL++,
    map-side partials, ~5% rsd — never touches text), then total bits =
    next power of two >= keys x ``bits_per_key`` (~10 bits/key with 5
    hashes ≈ 1% fpp; the pow2 ceiling only adds headroom, and even a 5%
    HLL under-read leaves fill ≈ 0.41 < the 0.5 saturation warning).
    The total splits into fingerprint-range shards of at most
    ``max_bits_per_shard`` (default 2^27 = 16 MiB/shard broadcast +
    bounded per-task build memory), so a 10^12-key history auto-sizes
    to ~10 Tbit across ~75k shards instead of saturating a fixed-width
    bitmap — the r3/r4 advice's silent-degradation mode. Returns
    (n_bits_per_shard, n_shards), both powers of two; callers override
    either knob explicitly when they want a specific shape."""
    n_keys = hist_fp.agg(F.approx_count_distinct(key_col).alias("n")).collect()[0]["n"]
    total = _pow2_ceil(max(int(n_keys) * bits_per_key, min_bits))
    n_shards = max(1, total // max_bits_per_shard)
    return total // n_shards, n_shards


def bloom_contains_udf(df: DataFrame, bitmap: np.ndarray, n_hashes: int = 5):
    """Vectorized membership test against broadcast Bloom bitmap(s)
    (numpy gather + shift per Arrow batch, no per-row Python). Accepts
    the flat 1-D single bitmap or the (n_shards, n_words) sharded array
    from :func:`bloom_bitmaps`; for the sharded form each key probes
    only ITS fingerprint-range shard; ``n_bits`` is the array's row
    width (n_words x 64).

    The Spark broadcast stays pinned for the session unless released:
    the handle is exposed as ``might_contain.broadcast`` so long-lived
    callers (streaming micro-batch loops, benchmark harnesses) can
    ``.broadcast.destroy()`` after the consuming action completes —
    one-shot batch jobs can ignore it."""
    b2 = np.atleast_2d(bitmap)
    n_shards, n_words = b2.shape
    n_bits = n_words << 6
    bc = df.sparkSession.sparkContext.broadcast(b2.tobytes())

    @F.pandas_udf("boolean")
    def might_contain(keys: pd.Series) -> pd.Series:
        bits = np.frombuffer(bc.value, dtype=np.uint64)  # flat (n_shards*n_words,)
        k = keys.to_numpy(np.int64).view(np.uint64)
        base = _shard_of(k, n_shards) * np.uint64(n_words)
        pos = _bloom_positions(k, n_bits, n_hashes)
        hit = (bits[base[None, :] + (pos >> np.uint64(6))] >> (pos & np.uint64(63))) & np.uint64(1)
        return pd.Series(hit.all(axis=0))

    might_contain.broadcast = bc
    return might_contain


def history_bitmaps(
    hist_fp: DataFrame,
    n_bits: int | None = None,
    n_hashes: int = 5,
    n_shards: int | None = None,
) -> np.ndarray:
    """The Bloom bitmaps over a history fingerprint frame's ``__bk``
    key (:func:`history_fingerprints`). ``n_bits``/``n_shards`` left at
    None auto-size from the history cardinality
    (:func:`auto_bloom_params`, ~10 bits/key); explicit values win."""
    if n_bits is None or n_shards is None:
        auto_bits, auto_shards = auto_bloom_params(hist_fp)
        n_bits, n_shards = n_bits or auto_bits, n_shards or auto_shards
    return bloom_bitmaps(hist_fp, "__bk", n_bits=n_bits, n_hashes=n_hashes, n_shards=n_shards)


def _unseen(
    rows: DataFrame, bk: Column, hist_fp: DataFrame, bitmaps: np.ndarray, n_hashes: int
) -> DataFrame:
    """The ``rows`` (carrying an md5 ``__fp``) whose fingerprint is not
    in ``hist_fp``: bloom-negative rows on the ``bk`` probe are
    definitely unseen and skip the join; positives are exact-confirmed
    by an anti-join on ``__fp``.

    The flagged frame is materialized ONCE: both union branches consume
    it, and exchange reuse would cache only the shuffle — the upstream
    finalization + the Arrow bloom probe would otherwise run twice per
    action (the dedup_clusters localCheckpoint precedent)."""
    maybe = bloom_contains_udf(rows, bitmaps, n_hashes=n_hashes)
    flagged = rows.withColumn("__maybe", maybe(bk)).localCheckpoint(eager=False)
    fresh = flagged.filter(~F.col("__maybe"))
    confirmed = flagged.filter(F.col("__maybe")).join(
        hist_fp.select("__fp"), "__fp", "left_anti"
    )
    return fresh.unionByName(confirmed).drop("__maybe")


def history_fingerprints(history: DataFrame, text_col: str = "text") -> DataFrame:
    """The slim (\\_\\_fp md5, \\_\\_bk xxhash64) fingerprint frame the
    incremental-dedup confirm join and Bloom build both read — compute
    once per accepted batch and append to a persistent table
    (:func:`write_fingerprint_table`) so history TEXT is never
    re-scanned at ingest time."""
    norm = normalize_text_expr(F.col(text_col))
    return history.filter(F.col(text_col).isNotNull()).select(
        F.md5(norm).alias("__fp"), F.xxhash64(norm).alias("__bk")
    )


def write_fingerprint_table(
    history: DataFrame,
    table_name: str,
    path: str,
    n_buckets: int = 64,
    n_shards: int = 1,
    text_col: str = "text",
    mode: str = "overwrite",
) -> None:
    """Materialize the history fingerprint table the 10^12-doc audit
    prescribes: BUCKETED by ``__fp`` (the confirm anti-join's key, so
    the join reads the history side with zero exchange — only the slim
    bloom-positive batch side shuffles to the bucket layout) and, when
    ``n_shards > 1``, PARTITIONED by the fingerprint-range shard id so
    one shard's Bloom bitmap can be (re)built by scanning a single
    partition directory. ``mode='append'`` is the per-ingest update:
    append the accepted batch's fingerprints, OR its per-shard bitmaps
    into the cached ones.

    Reference anchor: the cross-batch generalization of the storage
    dedup discipline (/root/reference/app/services/storage.py:167-306).
    """
    fp = history_fingerprints(history, text_col)
    if n_shards > 1:
        fp = fp.withColumn("__shard", shard_expr(F.col("__bk"), n_shards))
    w = fp.write.mode(mode).option("path", path).format("parquet")
    if n_shards > 1:
        w = w.partitionBy("__shard")
    w.bucketBy(n_buckets, "__fp").sortBy("__fp").saveAsTable(table_name)


def incremental_dedup(
    batch: DataFrame,
    history: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_bits: int | None = None,
    n_hashes: int = 5,
    n_shards: int | None = None,
    hist_fp: DataFrame | None = None,
    bitmaps: np.ndarray | None = None,
) -> DataFrame:
    """Dedup a new ingest batch against an already-accepted history:
    returns (id, n_batch_dups) for the batch rows whose normalized text
    is (a) first within the batch — min id wins, the
    :func:`exact_dedup` contract — and (b) absent from the history.

    Two fingerprints per text, both computed map-side so no shuffle
    ever carries text: md5 (128-bit, collision-safe at corpus scale)
    for grouping and anti-join equality; xxhash64 for the Bloom probes.

    The production 10^12-history shape passes ``hist_fp`` (the
    fingerprint table written by :func:`write_fingerprint_table`,
    bucketed by __fp → the confirm anti-join reads the history side
    shuffle-free) and ``n_shards > 1`` (fingerprint-range-sharded
    bitmaps: total filter capacity n_shards x n_bits with bounded
    per-task memory). ``bitmaps`` accepts the prebuilt sharded array so
    long-lived callers (streaming micro-batch loops) build once per
    history epoch and reuse across batches instead of re-scanning
    history per call; the result is invariant to all three knobs.
    ``history`` (raw text) remains the convenience path and is ignored
    when ``hist_fp`` is given.

    ``n_bits``/``n_shards`` left at None auto-size from the history
    cardinality (:func:`auto_bloom_params`, ~10 bits/key) — the r4
    advice's fix for the fixed 2^20 default that silently saturated on
    any real history. Explicit values win.
    """
    if hist_fp is None:
        if history is None:
            raise ValueError("incremental_dedup needs history or hist_fp")
        hist_fp = history_fingerprints(history, text_col)

    norm = normalize_text_expr(F.col(text_col))
    firsts = (
        batch.filter(F.col(text_col).isNotNull())
        .select(F.col(id_col), F.md5(norm).alias("__fp"), F.xxhash64(norm).alias("__bk"))
        .groupBy("__fp")
        .agg(
            F.min(id_col).alias(id_col),
            F.count("*").alias("n_batch_dups"),
            F.min("__bk").alias("__bk"),  # same text -> same __bk; min = deterministic
        )
    )
    if bitmaps is None:
        bitmaps = history_bitmaps(hist_fp, n_bits, n_hashes, n_shards)
    unseen = _unseen(firsts, F.col("__bk"), hist_fp, bitmaps, n_hashes)
    return unseen.select(id_col, "n_batch_dups")


def history_filter(
    batch: DataFrame,
    history: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_bits: int | None = None,
    n_hashes: int = 5,
    n_shards: int | None = None,
    hist_fp: DataFrame | None = None,
    bitmaps: np.ndarray | None = None,
) -> DataFrame:
    """Drop batch rows whose normalized text already exists in the
    history — ALL other rows pass through with their full schema
    (in-batch duplicates intact). This is the pre-filter an ingest
    pipeline wants BEFORE its own quality/dedup stages: unlike
    :func:`incremental_dedup` it does not pick an in-batch
    representative, so downstream stages choose keepers AFTER quality
    filtering. Same bloom routing: bloom-negative rows skip the
    anti-join; positives are exact-confirmed on the md5 fingerprint.
    Rows with null text are dropped (no fingerprint). Scale knobs
    identical to :func:`incremental_dedup`: ``hist_fp`` (bucketed
    fingerprint table → shuffle-free confirm), ``n_shards`` (sharded
    bitmaps), ``bitmaps`` (prebuilt, reused across micro-batches),
    and None ``n_bits``/``n_shards`` auto-size from history cardinality
    (:func:`auto_bloom_params`)."""
    if hist_fp is None:
        if history is None:
            raise ValueError("history_filter needs history or hist_fp")
        hist_fp = history_fingerprints(history, text_col)
    norm = normalize_text_expr(F.col(text_col))
    if bitmaps is None:
        bitmaps = history_bitmaps(hist_fp, n_bits, n_hashes, n_shards)
    rows = batch.filter(F.col(text_col).isNotNull()).withColumn("__fp", F.md5(norm))
    return _unseen(rows, F.xxhash64(norm), hist_fp, bitmaps, n_hashes).drop("__fp")
