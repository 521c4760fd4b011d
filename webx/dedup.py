"""Deduplication operators for training-data pipelines.

Tokens are split and hashed by built-in JVM expressions (xxhash64 /
higher-order array functions); the per-document loops Catalyst lambdas
run slowly (the MinHash slot fold, word-gram windows) are Arrow-batched
``mapInPandas`` kernels. The only shuffles are the ones the algorithms
require (groupBy fingerprint / band bucket).

Scale notes:
* exact dedup = one hash-aggregate shuffle on the fingerprint.
* MinHash and SimHash = ONE narrow JVM projection per row (the per-token
  ``xxhash64``, ``_token_hashes``); the shingle folds, the 64 slot
  rehashes with their signed min, and the SimHash bit counters run as
  vectorized uint64 numpy kernels over each Arrow batch (webx/xxh64.py
  mirrors Spark's XXH64 bit for bit).
* LSH candidates come from ``groupBy(band, band_hash)`` + per-bucket pair
  expansion — signatures are computed once (no self-join recompute), cost
  is bounded by bucket sizes, not corpus²; ``max_bucket`` caps pathological
  buckets (boilerplate-identical mega-clusters) explicitly at scale.
* verification joins shingle arrays only for the candidate pairs.
"""

from __future__ import annotations

import itertools
import weakref

from pyspark.sql import DataFrame, Observation, functions as F

from webx.textstats import WS_SPLIT

#: Default cap on LSH bucket size. A bucket of n ids expands to n(n-1)/2
#: candidate pairs inside ONE task; at crawl scale boilerplate-identical
#: mega-clusters (error pages, parked domains) produce buckets with 10^6+
#: members whose quadratic expansion kills the stage. 10k ids ≈ 50M pairs
#: ≈ the most a single task should ever materialize; near-dup recall for
#: such clusters is better served by exact_dedup upstream anyway.
DEFAULT_MAX_BUCKET = 10_000

#: name → Observation for the most recent bucket_pairs() drop metrics.
#: Values become readable (``obs.get``) after the query's first action;
#: ``dropped_bucket_metrics(name)`` is the public accessor.
_drop_observations: dict[str, Observation] = {}


def dropped_bucket_metrics(name: str = "last") -> dict:
    """Drop metrics of the most recent capped ``bucket_pairs`` plan under
    ``name``: {"dropped_buckets": int, "dropped_ids": int}. Blocks until
    the owning query's first action has completed (Observation.get
    semantics); raises KeyError if no capped plan was built under that
    name. Record these into the lineage table on real runs — a silent
    drop reads as "covered everything" when it didn't.

    AQE caveat: when the query's final result is EMPTY (e.g. every
    candidate bucket was over-cap), AQE's empty-relation propagation
    replans away the CollectMetrics node and the observation is lost —
    Spark reports an empty metrics row. We raise a clear error rather
    than fabricate zeros; to retain metrics in that corner, exclude the
    rule: ``spark.conf.set("spark.sql.adaptive.optimizer.excludedRules",
    "org.apache.spark.sql.execution.adaptive.AQEPropagateEmptyRelation")``."""
    obs = _drop_observations[name]
    try:
        return dict(obs.get)
    except Exception as ex:  # empty GenericRow -> toPyRow assertion error
        raise RuntimeError(
            f"bucket_pairs drop metrics '{name}' were pruned by AQE "
            "empty-relation propagation (the query returned zero rows). "
            "Exclude AQEPropagateEmptyRelation via "
            "spark.sql.adaptive.optimizer.excludedRules to retain them."
        ) from ex


def exact_dedup(docs: DataFrame, key: str = "text") -> DataFrame:
    """Group identical texts: (fp, n_dups, min_doc_id)."""
    fp = F.md5(F.encode(F.col(key), "UTF-8")).alias("fp")
    return (
        docs.select(fp, "doc_id")
        .groupBy("fp")
        .agg(F.count("*").alias("n_dups"), F.min("doc_id").alias("min_doc_id"))
    )


def word_ngrams(
    df: DataFrame,
    n: int,
    text_col: str = "text",
    lower: bool = False,
    keep: tuple = ("doc_id",),
) -> DataFrame:
    """``keep`` columns plus ``grams``: the distinct word n-grams of
    ``text_col`` as strings, in first-occurrence order. A document with
    fewer than n tokens yields its whole token join; NULL text yields
    ``[""]``.

    Tokens are split (and, with ``lower``, lowercased) JVM-side, so every
    gram string is the one Spark's ``split``/``lower`` produce. The grams
    are then cut in one ``mapInPandas`` pass: each document's tokens are
    joined once and every gram is a slice of that join, so the work is
    linear in the document's length. The ``transform``/``slice`` lambda
    this replaces paid a per-gram cost that grew with the document's
    token count (PLANS.md, "Word n-grams in one linear pass")."""
    from pyspark.sql import types as T

    toks = F.split(F.trim(F.col(text_col)), WS_SPLIT)
    if lower:
        toks = F.transform(toks, lambda t: F.lower(t))
    schema = T.StructType(
        [df.schema[c] for c in keep]
        + [T.StructField("grams", T.ArrayType(T.StringType()))]
    )

    def fn(batches):
        for p in batches:
            p["_toks"] = [_window_joins(t, n) for t in p["_toks"]]
            yield p.rename(columns={"_toks": "grams"})

    return df.select(*keep, toks.alias("_toks")).mapInPandas(fn, schema=schema)


def _window_joins(toks, n: int) -> list:
    """Distinct ``" ".join`` of every n-token window of ``toks``, first
    occurrence first; ``[" ".join(toks)]`` below n tokens, ``[""]`` for
    NULL. Window i is the slice of the full join from token i's start to
    token i+n-1's end."""
    if toks is None:
        return [""]
    text = " ".join(toks)
    if len(toks) < n:
        return [text]
    starts = [0, *itertools.accumulate(len(t) + 1 for t in toks)]
    return list(
        dict.fromkeys(
            text[starts[i] : starts[i + n] - 1] for i in range(len(toks) - n + 1)
        )
    )


def _token_hashes(col: str = "text"):
    """Per-token ``xxhash64`` of ``split(trim(col), WS_SPLIT)``: the one
    JVM-side projection MinHash and SimHash share, so strings never cross
    into Python. NULL text gives a NULL array."""
    return F.transform(
        F.split(F.trim(F.col(col)), WS_SPLIT), lambda t: F.xxhash64(t)
    )


def minhash_signatures(
    docs: DataFrame, n_hashes: int = 64, shingle_k: int = 3
) -> DataFrame:
    """(doc_id, sig: array<bigint>) — sig[i] = min over shingles s of
    ``xxhash64(h(s), i)`` (signed-long min, matching ``least``), where
    h(s) is the seed-42 ``xxhash64`` fold of the shingle's k token hashes.
    A document with fewer than k tokens is one shingle: the fold of all
    its token hashes (NULL text folds none).

    The token hashes are one narrow JVM projection (``_token_hashes``);
    the shingle folds and the rehash+min fold run as vectorized uint64
    numpy passes per Arrow batch inside ``mapInPandas``, one pass per
    slot over the batch's shingles, so a task holds O(shingles) memory
    (``xxh64.minhash_slots_np``). The Catalyst ``aggregate`` fold this
    replaced was the bench's biggest line item (15.4s of 48.5s at
    sf0.1); the kernel is checked against a plain-Python reference built
    on the scalar webx.xxh64 functions (tests/test_xxh64.py). One narrow
    pass, no shuffle."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    # JVM side stays SMALL on purpose: just per-token xxhash64. The big
    # expression trees (window folds, 64-slot rehash) generate huge
    # whole-stage-codegen methods that run interpreted until the JIT
    # warms up — a one-shot query pays 5-8× (measured: 15-20s vs 2.7s at
    # sf0.1 for the first three invocations). The numpy kernel has no
    # warm-up cliff.
    src = docs.select("doc_id", _token_hashes().alias("th"))
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("sig", T.ArrayType(T.LongType())),
        ]
    )
    k = shingle_k

    def fn(batches):
        for p in batches:
            # NULL text → NULL token array from Arrow; treat as token-less
            # (signature = the empty-fold shingle — covered in test_xxh64)
            arrs = [
                np.asarray(a if a is not None else [], dtype=np.int64)
                for a in p["th"]
            ]
            if not arrs:
                yield pd.DataFrame({"doc_id": p["doc_id"][:0], "sig": []})
                continue
            sig = _minhash_sigs_np(arrs, n_hashes, k)
            yield pd.DataFrame({"doc_id": p["doc_id"], "sig": list(sig)})

    return src.mapInPandas(fn, schema=schema)


def _minhash_sigs_np(arrs, n_hashes: int, k: int):
    """Per-row int64 token-hash arrays → (len(arrs), n_hashes) int64
    signatures: the shingle folds, then the slot-at-a-time min fold
    (``xxh64.minhash_slots_np``). Every row has at least one shingle."""
    import numpy as np

    from webx import xxh64 as X

    h0 = _shingle_hashes_np(arrs, k)
    counts = np.array([max(len(a) - k + 1, 1) for a in arrs], dtype=np.int64)
    starts = np.zeros(len(counts), dtype=np.int64)
    np.cumsum(counts[:-1], out=starts[1:])
    return X.minhash_slots_np(h0, starts, n_hashes)


def _shingle_hashes_np(arrs, k: int):
    """Per-row token-hash arrays → one flat uint64 array of shingle
    hashes, k-window seed-42 folds computed as k chained hash_long_np
    passes over ALL windows at once. Rows with < k tokens contribute one
    whole-array fold (tiny Python loop, rare). Folding token hashes
    rather than hashing shingle strings keeps the DuckDB oracle
    (webx/oracles.py) flat 64-bit arithmetic. Duplicate shingles are
    kept: the signature is a min, which duplicates cannot change."""
    import numpy as np

    from webx import xxh64 as X

    n = np.array([len(a) for a in arrs], dtype=np.int64)
    out_counts = np.where(n >= k, n - k + 1, 1)
    total = int(out_counts.sum())
    out = np.empty(total, dtype=np.uint64)
    out_off = np.zeros(len(arrs), dtype=np.int64)
    np.cumsum(out_counts[:-1], out=out_off[1:])

    long_rows = np.nonzero(n >= k)[0]
    if long_rows.size:
        flat = np.concatenate([arrs[i] for i in long_rows]).astype(np.uint64)
        tok_off = np.concatenate([[0], np.cumsum(n[long_rows][:-1])])
        w_counts = (n[long_rows] - k + 1).astype(np.int64)
        # window start indices into flat, all long rows at once
        widx = np.repeat(tok_off, w_counts) + (
            np.arange(int(w_counts.sum()))
            - np.repeat(np.concatenate([[0], np.cumsum(w_counts[:-1])]), w_counts)
        )
        h = np.full(widx.shape, X.SPARK_SEED, dtype=np.uint64)
        for j in range(k):
            h = X.hash_long_np(flat[widx + j], h)
        pos = np.repeat(out_off[long_rows], w_counts) + (
            np.arange(int(w_counts.sum()))
            - np.repeat(np.concatenate([[0], np.cumsum(w_counts[:-1])]), w_counts)
        )
        out[pos] = h
    for i in np.nonzero(n < k)[0]:  # rare: docs with < k tokens
        hh = X.SPARK_SEED
        for v in np.asarray(arrs[i], dtype=np.int64):
            hh = X.hash_long(int(v) & X.M64, hh)
        out[out_off[i]] = hh
    return out


def _observe_drops(buckets: DataFrame, max_bucket: int, name: str) -> DataFrame:
    """Attach an Observation counting over-cap buckets/ids, then filter
    them out. The CollectMetrics node sits above the groupBy and below
    the size filter — Catalyst does not push predicates through it, so
    the metrics see every bucket, at zero extra actions."""
    obs = Observation()
    over = F.size("ids") > max_bucket
    buckets = buckets.observe(
        obs,
        F.coalesce(F.sum(F.when(over, 1)), F.lit(0)).alias("dropped_buckets"),
        F.coalesce(F.sum(F.when(over, F.size("ids"))), F.lit(0)).alias("dropped_ids"),
    )
    _drop_observations[name] = obs
    _drop_observations["last"] = obs
    return buckets.filter(~over)


def bucket_pairs(
    df: DataFrame,
    bucket_cols: list,
    id_col: str,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
    drop_metrics_name: str = "bucket_pairs",
) -> DataFrame:
    """Shared LSH bucket→candidate-pair expansion: group ``df`` by
    ``bucket_cols``, expand the ordered (id_a < id_b) pairs within each
    bucket, distinct across buckets. ``id_col`` may be a struct whose
    first field is the id and whose other fields are a payload the pair
    needs (SimHash carries its signature this way); pairs are then
    ordered by the id first and come out as ``id_a``/``id_b`` structs.
    Buckets larger than ``max_bucket`` (default ``DEFAULT_MAX_BUCKET``;
    ``None`` disables) are dropped and counted — read the count with
    ``dropped_bucket_metrics(drop_metrics_name)`` after the first action.
    Used by the MinHash banding and SimHash chunks here and the embedding
    near-dup tables (webx/similarity.py)."""
    buckets = (
        df.groupBy(*bucket_cols)
        .agg(F.sort_array(F.collect_set(id_col)).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    if max_bucket is not None:
        buckets = _observe_drops(buckets, max_bucket, drop_metrics_name)
    pairs = F.flatten(
        F.transform(
            "ids",
            lambda x, i: F.transform(
                F.slice("ids", i + 2, F.size("ids")),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    return (
        buckets.select(F.explode(pairs).alias("p"))
        .select("p.id_a", "p.id_b")
        .distinct()
    )


def lsh_candidate_pairs(
    sigs: DataFrame,
    bands: int = 16,
    rows_per_band: int = 4,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Banded LSH: docs sharing any band hash → candidate pairs (a < b).

    One signature pass → explode to (band, band_hash) → shared
    ``bucket_pairs`` expansion."""
    band_idx = F.sequence(F.lit(0), F.lit(bands - 1))
    banded = sigs.select(
        "doc_id",
        F.explode(
            F.transform(
                band_idx,
                lambda b: F.struct(
                    b.alias("band"),
                    F.xxhash64(
                        F.slice("sig", b * rows_per_band + 1, rows_per_band), b
                    ).alias("bh"),
                ),
            )
        ).alias("e"),
    ).select("doc_id", "e.band", "e.bh")
    return bucket_pairs(
        banded, ["band", "bh"], "doc_id", max_bucket, drop_metrics_name="minhash_lsh"
    )


def jaccard_verify(
    docs: DataFrame, pairs: DataFrame, shingle_k: int = 3, threshold: float = 0.7
) -> DataFrame:
    """Exact n-gram Jaccard for candidate pairs → (id_a, id_b, jaccard),
    filtered to >= threshold. Shingles are computed ONLY for documents
    that appear in a candidate pair (semi-join prefilter). The id set is
    UNHINTED: pairs is un-checkpointed here so a size probe would run
    its lineage twice, and at high dup rates the candidate set is
    corpus-scale anyway — AQE converts the semi-join to broadcast at
    runtime whenever the actual shuffle bytes are small."""
    ids = (
        pairs.select(F.col("id_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("id_b").alias("doc_id")))
        .distinct()
    )
    needed = docs.join(ids, "doc_id", "left_semi")
    sh = word_ngrams(needed, shingle_k).withColumnRenamed("grams", "sh")
    j = (
        pairs.join(sh.withColumnRenamed("doc_id", "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
        .join(sh.withColumnRenamed("doc_id", "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.size(F.array_union("sh_a", "sh_b"))
            ).alias("jaccard"),
        )
    )
    return j.filter(F.col("jaccard") >= threshold)


def jaccard_join(
    docs: DataFrame,
    threshold: float = 0.5,
    shingle_k: int = 3,
) -> DataFrame:
    """EXACT set-similarity self-join (AllPairs/PPJoin prefix filter;
    Bayardo et al. 2007, Xiao et al. 2008): all pairs with shingle
    Jaccard ≥ ``threshold``, found WITHOUT the all-pairs comparison.
    MinHash+LSH (``minhash_neardup``) trades recall for speed; this is
    the recall-1 sibling for when "≥ t, exactly" is the contract
    (legal dedup guarantees, eval-set construction).

    Prefix filter: order every document's shingles by one GLOBAL order
    (ascending document frequency, rarest first — the order that makes
    prefixes selective; ties broken by the shingle string). If
    J(A,B) ≥ t then |A∩B| ≥ t·|A∪B| ≥ ceil(t·|A|), and the globally
    SMALLEST common shingle must sit within the first
    |A| − ceil(t·|A|) + 1 shingles of A (everything after it includes
    the other ≥ ceil(t·|A|) − 1 common shingles) — and likewise for B.
    So an equi-join restricted to both sides' prefixes is a COMPLETE
    candidate generator; candidates then get exact ``jaccard_verify``.

    Plan: one df-count aggregate (shingle → document frequency), one
    per-doc rank window, the prefix equi-join (hash join on the shingle
    key, AQE-skew-splittable — and prefixes hold the RAREST shingles,
    so hot keys are structurally absent), then verify on the candidate
    set only. The oracle is the naive all-pairs Jaccard — equality is
    the prefix-filter completeness theorem re-proven per driver run."""
    sized = word_ngrams(docs, shingle_k).select(
        "doc_id", F.col("grams").alias("sh"), F.size("grams").alias("sz")
    )
    tok = sized.select("doc_id", "sz", F.explode("sh").alias("g"))
    freq = tok.groupBy("g").agg(F.count("*").alias("df"))
    from pyspark.sql import Window as _W

    w = _W.partitionBy("doc_id").orderBy("df", "g")
    pos = tok.join(freq, "g").withColumn("r", F.row_number().over(w))
    prefix = pos.filter(
        F.col("r") <= F.col("sz") - F.ceil(F.lit(float(threshold)) * F.col("sz")) + 1
    ).select("doc_id", "g")
    a = prefix.select(F.col("doc_id").alias("id_a"), "g")
    b = prefix.select(F.col("doc_id").alias("id_b"), "g")
    cand = (
        a.join(b, "g")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    return jaccard_verify(docs, cand, shingle_k=shingle_k, threshold=threshold)


def minhash_neardup(
    docs: DataFrame,
    n_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    threshold: float = 0.7,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Full MinHash→LSH→verify pipeline → (id_a, id_b, jaccard).

    The candidate-pair set is tiny relative to the corpus but its lineage
    contains the whole signature+banding computation; the verify stage
    references it twice (id prefilter + join input), so it is
    materialized once via ``localCheckpoint(eager=False)``. That call is
    not lazy under AQE: building the checkpoint's RDD finalizes the
    adaptive plan, which runs every upstream shuffle stage right away;
    only the last stage waits for the first action. (Feeding ``docs``
    from a checkpoint of its own keeps those stages off ``docs``'
    lineage: the curate funnel checkpoints its survivor set first.)
    Blocks are released by the ContextCleaner when the DataFrame is
    garbage-collected, so long-lived drivers running many queries don't
    accumulate pinned cache. (On a real cluster where executor loss must
    be survivable, callers should instead persist to a reliable store
    and own the unpersist lifecycle.)"""
    rows_per_band = n_hashes // bands
    sigs = minhash_signatures(docs, n_hashes, shingle_k)
    pairs = lsh_candidate_pairs(sigs, bands, rows_per_band, max_bucket)
    pairs = pairs.localCheckpoint(eager=False)
    return jaccard_verify(docs, pairs, shingle_k, threshold)


def simhash(docs: DataFrame, col: str = "text") -> DataFrame:
    """64-bit SimHash over whitespace tokens → (doc_id, simhash: bigint).

    bit i set ⇔ sum over tokens of ±1 (sign of token-hash bit i) > 0;
    NULL text is the no-token document, simhash 0. The per-token
    xxhash64 stays JVM-side (``_token_hashes``); the 64 per-bit counters
    run as one vectorized bit-matrix reduction per Arrow batch (a
    Catalyst 64-counter fold suffers the same one-shot JIT warm-up cliff
    as the MinHash fold)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    src = docs.select("doc_id", _token_hashes(col).alias("th"))
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("simhash", T.LongType()),
        ]
    )
    shifts = np.arange(64, dtype=np.uint64)

    def fn(batches):
        for p in batches:
            arrs = [
                np.asarray(a if a is not None else [], dtype=np.int64)
                for a in p["th"]
            ]
            lens = np.array([len(a) for a in arrs], dtype=np.int64)
            if lens.sum() == 0:
                yield pd.DataFrame(
                    {"doc_id": p["doc_id"], "simhash": np.zeros(len(arrs), np.int64)}
                )
                continue
            flat = np.concatenate([a for a in arrs if len(a)]).astype(np.uint64)
            bits = ((flat[:, None] >> shifts) & np.uint64(1)).astype(np.int32)
            contrib = 2 * bits - 1  # ±1 per bit per token
            nz = lens > 0
            offsets = np.zeros(int(nz.sum()), dtype=np.int64)
            np.cumsum(lens[nz][:-1], out=offsets[1:])
            counts = np.add.reduceat(contrib, offsets, axis=0)  # (rows, 64)
            vals = ((counts > 0).astype(np.uint64) << shifts).sum(
                axis=1, dtype=np.uint64
            )
            out = np.zeros(len(arrs), dtype=np.uint64)
            out[nz] = vals
            yield pd.DataFrame(
                {"doc_id": p["doc_id"], "simhash": out.view(np.int64)}
            )

    return src.mapInPandas(fn, schema=schema)


def simhash_neardup(
    docs: DataFrame,
    max_hamming: int = 3,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Band 64-bit simhash into 4×16-bit chunks (pigeonhole: hamming ≤ 3 ⇒
    some chunk equal) → bucket by chunk value → exact hamming filter.

    Like LSH above, signatures are computed once and pairs come from the
    shared ``bucket_pairs`` expansion, not a self-join; each id carries
    its simhash as payload for the Hamming filter. Over-cap buckets are
    dropped and counted (``dropped_bucket_metrics("simhash")``)."""
    chunks = simhash(docs).select(
        F.struct(F.col("doc_id").alias("id"), F.col("simhash").alias("sh")).alias("doc"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftrightunsigned(F.col("simhash"), c * 16)
                        .bitwiseAND(F.lit(65535))
                        .alias("cv"),
                    )
                    for c in range(4)
                ]
            )
        ).alias("e"),
    ).select("doc", "e.chunk", "e.cv")
    cand = bucket_pairs(
        chunks, ["chunk", "cv"], "doc", max_bucket, drop_metrics_name="simhash"
    )
    ham = F.bit_count(F.col("id_a.sh").bitwiseXOR(F.col("id_b.sh")))
    return cand.select(
        F.col("id_a.id").alias("id_a"), F.col("id_b.id").alias("id_b"), ham.alias("hamming")
    ).filter(F.col("hamming") <= max_hamming)


#: dedup_clusters output → its row count (the node count), recorded by
#: the same observation that checks convergence; read by the callers that
#: size-gate a broadcast of the cluster frame or a frame derived from it.
_cluster_rows: "weakref.WeakKeyDictionary[DataFrame, int]" = weakref.WeakKeyDictionary()


def cluster_rows(clusters: DataFrame) -> "int | None":
    """Row count of a ``dedup_clusters`` result, known without a Spark
    action; None for any other frame."""
    return _cluster_rows.get(clusters)


def dedup_clusters(pairs: DataFrame) -> DataFrame:
    """Near-duplicate pairs → connected components: (doc_id, cluster_id)
    with cluster_id = the component's minimum doc_id — the step after
    pair generation that production dedup actually needs (one SURVIVOR
    per duplicate cluster, not per pair). Min-label propagation as a
    driver loop of relational iterations, run until no label changes:
    at most (largest component diameter) + 1 rounds, so the labels
    returned are always the converged ones. Near-dup clusters are
    shallow; each round is one shuffle on the edge key over the PAIR
    set, which is tiny relative to the corpus. Deterministic: the min
    label is unique.

    One Spark action per round: the round's eager ``localCheckpoint``.
    Round 1 reads the edges alone (a node's first label is the least of
    itself and its neighbours), and an ``Observation`` on each checkpoint
    counts the changed labels and the nodes in that same action, so the
    convergence test needs no extra job and the node count is known
    afterwards (``cluster_rows``)."""
    edges = pairs.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
    sym = edges.unionByName(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).localCheckpoint()
    labels = sym.select(F.col("a").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    for i in itertools.count():
        if i == 0:  # round 1 needs no label frame
            stepped = sym.groupBy("a").agg(
                F.least("a", F.min("b")).alias("label")
            ).select(F.col("a").alias("node"), "label", F.col("a").alias("prev"))
        else:
            neigh = (
                sym.join(
                    labels.select(
                        F.col("node").alias("b"), F.col("label").alias("nl")
                    ),
                    "b",
                )
                .groupBy("a")
                .agg(F.min("nl").alias("minn"))
                .select(F.col("a").alias("node"), "minn")
            )
            stepped = labels.join(neigh, "node").select(
                "node",
                F.least("label", "minn").alias("label"),
                F.col("label").alias("prev"),
            )
        obs = Observation()
        stepped = stepped.observe(
            obs,
            F.count("*").alias("nodes"),
            F.count(F.when(F.col("label") != F.col("prev"), 1)).alias("changed"),
        ).localCheckpoint()
        labels = stepped.select("node", "label")
        got = obs.get
        if got["changed"] == 0:
            break
    out = labels.select(F.col("node").alias("doc_id"), F.col("label").alias("cluster_id"))
    _cluster_rows[out] = got["nodes"]
    return out


# Row bound under which a cluster/keep/drop frame may be HINTED as the
# broadcast side. At RefinedWeb/SemDeDup dup rates (30-50% of the corpus
# in near-dup clusters) these frames are O(corpus), not pair-sized — a
# forced F.broadcast would collect 10^8-10^9 rows on the driver and OOM.
# 10^6 8-16 byte keys build a hash relation in the tens of MB: safe on
# any executor profile. Above the bound the join goes out UNHINTED and
# the planner (AQE at runtime) still picks broadcast when the actual
# shuffle bytes turn out small.
BROADCAST_ROW_BOUND = 1_000_000


def gated_broadcast(
    df: DataFrame, bound: "int | None" = None, rows: "int | None" = None
) -> DataFrame:
    """Size-gated broadcast hint (the ``dedup_against`` pattern made
    automatic): hint ``F.broadcast`` only when the frame has at most
    ``bound`` rows; otherwise return it unhinted so the join degrades to
    shuffle. ``rows`` is an upper bound on the frame's row count when the
    caller already knows one (a ``dedup_clusters`` node count bounds the
    cluster frame and every frame filtered from it): the decision then
    needs no Spark action. Without it the frame is probed with a LIMIT
    bound+1 count; callers pass frames derived from a localCheckpoint,
    so the probe is a cheap early-exit scan of materialized partitions,
    not a lineage replay."""
    if bound is None:
        bound = BROADCAST_ROW_BOUND
    if rows is None:
        rows = df.limit(bound + 1).count()
    return F.broadcast(df) if rows <= bound else df


def keep_list(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """Survivor set after near-dup clustering: every document except
    non-minimum members of a duplicate cluster → (doc_id, keep). The
    drop frame is usually far under the corpus, so the final join
    broadcast-hints through the size gate — but at RefinedWeb-scale dup
    rates it is corpus-sized and the gate lets it shuffle."""
    clusters = dedup_clusters(pairs)
    drop = clusters.filter(F.col("doc_id") != F.col("cluster_id")).select("doc_id")
    return docs.select("doc_id").join(
        gated_broadcast(drop.withColumn("k", F.lit(False)), rows=cluster_rows(clusters)),
        "doc_id",
        "left",
    ).select("doc_id", F.coalesce("k", F.lit(True)).alias("keep"))


def _span_tokens(text_col: str):
    """Lowercased whitespace tokens of ``text_col``, NULL read as ""."""
    return F.transform(
        F.split(F.trim(F.coalesce(F.col(text_col), F.lit(""))), WS_SPLIT),
        lambda t: F.lower(t),
    )


def _span_windows(
    docs: DataFrame, k: int, text_col: str, hashed: bool = False
) -> DataFrame:
    """(doc_id, pos, g): one row per k-token window of ``_span_tokens``,
    ``pos`` 1-based, ``g`` the window's single-space join (its xxhash64
    with ``hashed``). Documents under k tokens give no rows. Shared by
    ``duplicate_spans`` and ``remove_duplicate_spans``, which shuffle it
    on ``g``."""
    toks = _span_tokens(text_col)
    cnt = F.size(toks)
    win = lambda i: F.concat_ws(" ", F.slice(toks, i, k))
    mk = (lambda i: F.xxhash64(win(i))) if hashed else win
    wins = F.when(
        cnt >= k,
        F.transform(
            F.sequence(F.lit(1), cnt - k + 1),
            lambda i: F.struct(i.alias("pos"), mk(i).alias("g")),
        ),
    ).otherwise(
        F.array().cast(
            "array<struct<pos:int,g:" + ("bigint" if hashed else "string") + ">>"
        )
    )
    return docs.select("doc_id", F.explode(wins).alias("p")).select(
        "doc_id", "p.pos", "p.g"
    )


def duplicate_spans(
    docs: DataFrame,
    k: int = 13,
    text_col: str = "text",
    hashed: bool = False,
) -> DataFrame:
    """Corpus-wide duplicated-substring detection (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better" — the
    EXACT-SUBSTRING dedup their suffix array computes), re-expressed
    relationally: a token position is *duplicated* when its k-token
    window occurs more than once in the entire corpus; maximal runs of
    adjacent duplicated positions are the removable spans. Returns
    (doc_id, n_grams, n_dup_grams, n_dup_spans).

    Plan: one window explode per doc → corpus-wide count per gram (THE
    shuffle, on the gram key — the distributed stand-in for the suffix
    array) → join the counts back → per-doc agg + the classic
    pos − row_number() run-grouping for span counts (second shuffle, on
    doc_id). No Python anywhere.

    ``hashed=True`` is the 100 TB formulation: positions carry the
    64-bit xxhash64 of the window instead of the ~100-byte string —
    shuffle bytes shrink ~10×; identical answer up to 2^-64-scale
    collisions (differentially tested). The oracle-gated driver query
    uses the exact string form."""
    from pyspark.sql import Window

    frame = _span_windows(docs, k, text_col, hashed)
    counts = frame.groupBy("g").agg(F.count("*").alias("c"))
    flagged = frame.join(counts, "g").select(
        "doc_id", "pos", (F.col("c") > 1).alias("dup")
    )
    agg = flagged.groupBy("doc_id").agg(
        F.count("*").alias("n_grams"),
        F.sum(F.col("dup").cast("long")).alias("n_dup_grams"),
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    spans = (
        flagged.filter("dup")
        .withColumn("grp", F.col("pos") - F.row_number().over(w))
        .groupBy("doc_id")
        .agg(F.countDistinct("grp").alias("n_dup_spans"))
    )
    return (
        docs.select("doc_id")
        .join(agg, "doc_id", "left")
        .join(spans, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
            F.coalesce("n_dup_grams", F.lit(0)).alias("n_dup_grams"),
            F.coalesce("n_dup_spans", F.lit(0)).cast("long").alias("n_dup_spans"),
        )
    )


def remove_duplicate_spans(
    docs: DataFrame,
    k: int = 13,
    text_col: str = "text",
) -> DataFrame:
    """The removal half of exact-substring dedup (Lee et al. 2022's
    ExactSubstr policy: keep ONE occurrence of every duplicated
    substring, delete the rest): the corpus-wide FIRST occurrence of
    each duplicated k-token window — ordered by (doc_id, position) —
    survives; token positions covered by any later occurrence are
    deleted, and each document is rebuilt from its surviving tokens.
    Returns (doc_id, text, n_tokens, n_removed); ``text`` is the
    normalized reconstruction (lower-cased, single-space joined — the
    tokenization this dedup is defined over).

    Plan: window explode → one rank window over the gram key (THE
    shuffle — the suffix array stand-in) → k-offset coverage explode of
    the non-first occurrences only (duplicated mass is a small corpus
    fraction) → anti-join token positions → per-doc ordered rebuild."""
    from pyspark.sql import Window

    frame = _span_windows(docs, k, text_col)
    w = Window.partitionBy("g").orderBy("doc_id", "pos")
    later = frame.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") > 1)
    covered = later.select(
        "doc_id", F.explode(F.sequence("pos", F.col("pos") + (k - 1))).alias("tpos")
    ).distinct()

    toks = _span_tokens(text_col)
    nonblank = F.length(F.trim(F.coalesce(F.col(text_col), F.lit("")))) > 0
    tok_pos = docs.select(
        "doc_id",
        F.posexplode(
            F.when(nonblank, toks).otherwise(F.array().cast("array<string>"))
        ).alias("tpos0", "tok"),
    ).select("doc_id", (F.col("tpos0") + 1).alias("tpos"), "tok")
    kept = tok_pos.join(covered, ["doc_id", "tpos"], "left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("tpos", "tok"))),
                lambda s: s["tok"],
            ),
            " ",
        ).alias("text"),
        F.count("*").alias("n_kept"),
    )
    totals = docs.select(
        "doc_id",
        F.when(nonblank, F.size(toks)).otherwise(F.lit(0)).alias("n_tokens"),
    )
    return totals.join(rebuilt, "doc_id", "left").select(
        "doc_id",
        F.coalesce("text", F.lit("")).alias("text"),
        "n_tokens",
        (F.col("n_tokens") - F.coalesce("n_kept", F.lit(0))).alias("n_removed"),
    )


def dedup_against(
    new: DataFrame,
    prior: DataFrame,
    key: str = "text",
    broadcast_prior: bool = False,
) -> DataFrame:
    """Cross-snapshot exact dedup: rows of ``new`` whose ``key`` content
    hash does NOT appear in ``prior`` — the "dedup dump N against dumps
    1..N-1" pass every rolling crawl corpus runs (CCNet / RefinedWeb /
    FineWeb all dedup new snapshots against the accumulated corpus).

    Left-anti join on xxhash64(key): the prior side reduces to its
    DISTINCT 8-byte hashes (not its texts) before the exchange, so the
    shuffle moves 8 bytes/doc no matter the document size; set
    ``broadcast_prior`` when the prior hash set fits an executor
    (~10^7 hashes). At 10^10+ priors, persist the hash set bucketed by
    ``fp`` so repeated snapshot arrivals skip its shuffle entirely.
    Collision risk at 64 bits is ~n^2/2^65 (10^9 docs -> ~3%% chance of
    ONE false drop corpus-wide) — the standard engineering trade; use
    the 128-bit md5 variant of exact_dedup where that is unacceptable.
    """
    fp = F.xxhash64(F.col(key)).alias("fp")
    prior_fp = prior.select(fp).distinct()
    if broadcast_prior:
        prior_fp = F.broadcast(prior_fp)
    return new.withColumn("fp", fp).join(prior_fp, "fp", "left_anti").drop("fp")


def keep_best(
    docs: DataFrame, pairs: DataFrame, score_col: str = "score"
) -> DataFrame:
    """Quality-aware survivor selection: (doc_id, keep) where within
    each near-dup cluster only the member with the highest
    ``score_col`` survives (ties → lowest doc_id); singletons always
    keep. This is the policy real curation uses (RefinedWeb keeps the
    longest member, FineWeb the best-scored) where ``keep_list``'s
    min-id is arbitrary.

    Scale shape: the membership join broadcast-hints through the size
    gate (at 30-50% dup rates the cluster frame is corpus-scale and the
    gate lets it shuffle); the per-cluster argmax is a WINDOW rank over
    cid — one shuffle, no corpus-scale ``best`` frame to join back (the
    old agg+join materialized one row per cluster INCLUDING singletons,
    i.e. ~corpus rows, and force-broadcast it)."""
    from pyspark.sql import Window

    clusters = dedup_clusters(pairs)
    labeled = docs.join(
        gated_broadcast(clusters, rows=cluster_rows(clusters)), "doc_id", "left"
    ).select(
        "doc_id",
        F.coalesce("cluster_id", "doc_id").alias("cid"),
        F.col(score_col).alias("_s"),
    )
    w = Window.partitionBy("cid").orderBy(
        F.col("_s").desc(), F.col("doc_id").asc()
    )
    return labeled.select(
        "doc_id", (F.row_number().over(w) == 1).cast("int").alias("keep")
    )
