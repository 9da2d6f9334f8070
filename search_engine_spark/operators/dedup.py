"""Deduplication operators for web-scale training-data pipelines.

Exact (hash groupBy), n-gram Jaccard, MinHash + LSH banding, SimHash, and
embedding-cosine near-dup. All are set-oriented DataFrame plans built from
JVM column expressions (codegen-friendly); the pairwise variants are
candidate-generation + verify so the quadratic step only ever runs inside
small buckets — the shape that survives 10^12 docs.

Scale notes:
- exact dedup is one groupBy on a 16-byte hash — combinable, skew-free;
- MinHash-LSH joins on band keys, so cost is sum of bucket^2 sizes, not
  corpus^2; band count / rows-per-band trade recall vs cost as usual;
- SimHash emits a 16-bit fingerprint per doc; hamming-neighbor search can
  bucket on bit-masked prefixes (not needed at test scale);
- embedding near-dup brute-force is the correctness baseline; the LSH
  bucketed variant in similarity.py is the scale path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .textstats import TOKS


def _with_cached_inputs(df: DataFrame, handles: list[DataFrame]) -> DataFrame:
    """Tag a result DataFrame with the persisted frames its plan depends on
    so long-lived callers (the SearchEngine daemon) can free executor
    storage once the result is materialized."""
    df._cached_inputs = list(handles)
    return df


def release(df: DataFrame) -> None:
    """Unpersist the cached inputs a dedup operator attached to its result.

    Safe on any DataFrame (no-op without the tag). Call AFTER the result is
    fully materialized — the persisted frames back its lazy plan.
    """
    for h in getattr(df, "_cached_inputs", []):
        h.unpersist()


_KERNEL_TASK_BYTES = 32 << 20  # ~32MB of input per Arrow-kernel task


def _kernel_coalesce(df: DataFrame, min_task_bytes: int = _KERNEL_TASK_BYTES) -> DataFrame:
    """Coalesce a micro-partitioned input before a per-doc Arrow kernel.

    A filtered slice of a big cached corpus arrives in the PARENT's
    partitioning (the scaling bench's ~5k-doc hash slice of a 1M-doc corpus
    lives in 400 partitions of ~12 docs), and a mapInArrow kernel then pays
    the Python-worker round-trip + task fixed cost per micro-partition —
    measured 4.45s for the shingle kernel at 400 parts vs 0.41s at 32
    (local[32], same rows). The target is BYTES-derived from Catalyst stats
    (accurate for cached frames and file scans): at least ``min_task_bytes``
    of input per task, floored at one task per core, and never MORE
    partitions than the input already has — so a web-scale input whose
    ~128MB splits already exceed the per-task budget is untouched (its
    partition count stays, no giant tasks are created). coalesce() is
    narrow: no shuffle, merges whole parent partitions.
    """
    sc = df.sparkSession.sparkContext
    try:
        size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:  # stats unavailable: leave the layout alone
        return df
    n = df.rdd.getNumPartitions()
    target = max(sc.defaultParallelism, size // min_task_bytes)
    return df.coalesce(int(target)) if n > target else df


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Exact duplicate groups by md5(text); keeper = min doc_id.

    (doc_id, text_md5, group_size, keep_doc_id, is_dup)

    One window over text_md5 instead of groupBy + join-back (guide §2.4 —
    two operations keyed the same way share one exchange): the groupBy
    form hash-partitioned the rows by text_md5 TWICE (once into the
    aggregate, once into the join) and evaluated md5(text) in both
    subtrees; the window partitions once and hashes each text once.
    Measured (sf0.1, local[32], interleaved best-of-5 x2): 0.26-0.40s ->
    0.18-0.23s, identical rows. Group size is bounded by the duplicate
    multiplicity of one text (and WindowExec spills per group), so the
    skew profile matches the former join's reducer anyway.
    """
    from pyspark.sql import Window

    h = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.md5(F.col("text").cast("binary")).alias("text_md5"),
    )
    w = Window.partitionBy("text_md5")
    return h.select(
        "doc_id",
        "text_md5",
        F.count(F.lit(1)).over(w).cast("long").alias("group_size"),
        F.min("doc_id").over(w).alias("keep_doc_id"),
    ).withColumn("is_dup", F.col("doc_id") != F.col("keep_doc_id"))


def _shingles_expr(k: int) -> str:
    return (
        f"CASE WHEN size({TOKS}) >= {k} THEN "
        f"array_distinct(transform(sequence(1, size({TOKS}) - {k - 1}), "
        f"i -> concat_ws(' ', slice({TOKS}, i, {k})))) "
        f"ELSE array_distinct(array(concat_ws(' ', {TOKS}))) END"
    )


# sorted doc-id list column `_ds` -> all (a < b) in-bucket pairs, JVM-side
_PAIR_EXPR = (
    "flatten(transform(_ds, (x, i) -> "
    "transform(slice(_ds, i + 2, size(_ds)), y -> struct(x AS a, y AS b))))"
)


def _doc_ids(col):
    """A kernel batch's doc_id column as numpy. A null doc_id is rejected
    by name: pyarrow's zero-copy ``to_numpy`` would otherwise fail inside
    the task with an opaque ``ArrowInvalid``."""
    if col.null_count:
        raise ValueError(f"doc_id column has {col.null_count} null value(s)")
    return col.to_numpy()


def shingle_frame(docs: DataFrame, k: int = 3) -> DataFrame:
    """(doc_id, shingle) — distinct k-token shingles per doc."""
    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.explode(F.expr(_shingles_expr(k))).alias("shingle"),
    )


def shingle_sets(docs: DataFrame, k: int = 3) -> DataFrame:
    """(doc_id, _sh array<string>) — distinct k-token shingles per doc, as
    ONE fused mapInArrow kernel (guide §4.2).

    Row-identical to ``select(doc_id, _shingles_expr(k))``: same tokenizer
    rule (the ``regexp_extract_all(text, '[a-zA-Z]+', 0)`` letter runs of
    textstats.TOKS, case preserved), same first-occurrence dedup order
    (dict.fromkeys == array_distinct), same ``<k``-token degenerate case
    (one shingle joining all tokens — an empty doc yields ['']). The former
    Catalyst form built each doc's shingle array through a chain of
    interpreted higher-order functions (sequence/transform/concat_ws/slice/
    array_distinct) — the same chain whose minhash twin measured ~3x slower
    than the fused kernel (minhash_signatures docstring); here the token
    scan is one C-level findall and the array column is assembled once per
    batch.
    """
    import pyarrow as pa

    def kernel(batches):
        import re

        tok_re = re.compile(r"[a-zA-Z]+")
        schema = pa.schema(
            [("doc_id", pa.int64()), ("_sh", pa.list_(pa.string()))]
        )
        for batch in batches:
            if batch.num_rows == 0:
                continue
            ids = _doc_ids(batch.column(0))
            texts = batch.column(1).to_pylist()
            out: list[list[str]] = []
            for t in texts:
                toks = tok_re.findall(t) if isinstance(t, str) else []
                if len(toks) >= k:
                    sh = list(
                        dict.fromkeys(
                            " ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)
                        )
                    )
                else:
                    sh = [" ".join(toks)]
                out.append(sh)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(ids.astype("int64"), type=pa.int64()),
                    pa.array(out, type=pa.list_(pa.string())),
                ],
                schema=schema,
            )

    return _kernel_coalesce(docs.select(F.col("doc_id").cast("long"), "text")).mapInArrow(
        kernel, "doc_id long, _sh array<string>"
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    k: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Pairs (a, b) with k-shingle Jaccard >= threshold (a < b).

    Candidate generation via the shared-shingle join (docs sharing zero
    shingles never pair); the Jaccard VALUE is exact over the full shingle
    sets (array_intersect on the per-doc arrays, per-candidate cost
    O(|A|+|B|)). (doc_a, doc_b, jaccard)

    ``max_shingle_df``: drop shingles whose document frequency exceeds the
    cap from CANDIDATE GENERATION only. Without it, one hot shingle (a
    stopword trigram at web scale) is a full-corpus bucket and pair
    generation goes quadratic. The trade-off is recall-only and standard:
    a pair sharing exclusively ultra-common shingles is not surfaced
    (its Jaccard is dominated by noise anyway); values of surfaced pairs
    are unaffected because verification uses the full sets.

    Dataflow (NOT a shingle self-join): with a df cap, a COMBINABLE count
    aggregate finds oversized shingles first and an anti-join drops them —
    so a corpus-sized hot bucket only ever exists as map-side partial
    counters, never as a collect_list buffer; then each surviving
    shingle's sorted doc list groups once and the in-bucket (a < b) pair
    combinations explode JVM-side. Bucket size is capped, so the
    per-bucket pair expansion is O(cap^2) — the shape that survives a
    Zipf shingle distribution at web scale.

    Verification never ships a shingle array (guide §2.3/§8 — decide with
    small rows): because each doc's shingle set is distinct and each COLD
    shingle forms exactly one bucket containing both docs of a pair,
    ``groupBy(doc_a, doc_b).count()`` over the bucket pair expansion IS
    |A ∩ B ∩ cold| — the candidate dedup and the cold intersection count
    are the same aggregate. The hot remainder |A ∩ B ∩ hot| intersects
    per-doc HOT-ONLY shingle arrays (grouped per doc, bounded by the doc's
    own shingle count, never by a hot bucket's corpus-wide doc list) at
    the same join that attaches the set sizes. The former shape shuffled
    the FULL shingle arrays through two joins and ran array_intersect over
    them per pair (O(|A|+|B|) string hashing per candidate) — the array
    payload is what anti-scaled 16 -> 32 cores at 1M docs (BENCH r05:
    7.1s -> 13.4s best-of-N).

    The per-doc shingle-set frame is persisted (it feeds pair generation,
    hot membership, and the size projection); call ``release`` on the
    returned DataFrame after materializing it to free executor storage in
    long-lived sessions.
    """
    based = shingle_sets(docs, k).persist()
    sh = based.select("doc_id", F.explode("_sh").alias("shingle"))
    cached: list[DataFrame] = [based]
    hot = None
    if max_shingle_df is not None:
        # df cap enforced BEFORE any doc list materializes: the count
        # aggregate is combinable (map-side partial sums), so one ultra-hot
        # shingle — a stopword trigram at web scale — costs a handful of
        # partial counters, never a corpus-sized aggregation buffer. Only
        # the surviving buckets reach the collect_list below (whose size is
        # then bounded by the cap).
        #
        hot = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("_df"))
            .where(F.col("_df") > max_shingle_df)
            .select("shingle")
            .persist()  # feeds the anti-join AND the hot-membership join
        )
        cached.append(hot)
        sh_cold = sh.join(hot, "shingle", "left_anti")
    else:
        sh_cold = sh
    buckets = sh_cold.groupBy("shingle").agg(
        F.sort_array(F.collect_list("doc_id")).alias("_ds")
    )
    # ONE aggregate = candidate dedup + exact cold-intersection count
    pair_cnt = (
        buckets.where(F.size("_ds") >= 2)
        .select(F.explode(F.expr(_PAIR_EXPR)).alias("p"))
        .groupBy(F.col("p.a").alias("doc_a"), F.col("p.b").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("_nc"))
    )
    # per-doc metadata for the verify join: the full set SIZE (narrow
    # projection of the persisted arrays) plus the doc's HOT shingles only
    # (grouped per doc — bounded by the doc's own shingle count, never by a
    # hot bucket's corpus-wide doc list). |A ∩ B ∩ hot| is then an in-task
    # array_intersect over these (typically tiny) hot arrays at the same
    # join that attaches the sizes — no extra exchange, and the dominant
    # cold part of the intersection never touches an array at all.
    sizes = based.select("doc_id", F.size("_sh").alias("_n"))
    if hot is not None:
        hot_arrays = (
            sh.join(hot, "shingle")
            .groupBy("doc_id")
            .agg(F.collect_list("shingle").alias("_hs"))
        )
        meta = sizes.join(hot_arrays, "doc_id", "left")
        n_hot = F.when(
            F.col("_hsa").isNotNull() & F.col("_hsb").isNotNull(),
            F.size(F.array_intersect("_hsa", "_hsb")),
        ).otherwise(F.lit(0))
    else:
        meta = sizes.withColumn("_hs", F.lit(None).cast("array<string>"))
        n_hot = F.lit(0)
    meta_a = meta.select(
        F.col("doc_id").alias("doc_a"), F.col("_n").alias("_na"), F.col("_hs").alias("_hsa")
    )
    meta_b = meta.select(
        F.col("doc_id").alias("doc_b"), F.col("_n").alias("_nb"), F.col("_hs").alias("_hsb")
    )
    common = F.col("_nc") + n_hot
    j = (
        pair_cnt.join(meta_a, "doc_a")
        .join(meta_b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (common / (F.col("_na") + F.col("_nb") - common)).alias("_j"),
        )
    )
    out = (
        j.where(F.col("_j") >= threshold)
        .select("doc_a", "doc_b", F.round("_j", 6).alias("jaccard"))
    )
    return _with_cached_inputs(out, cached)


def minhash_signatures(docs: DataFrame, k: int = 3, n_hashes: int = 8) -> DataFrame:
    """MinHash signature per doc: h_s = min over shingles of md5(s:shingle).

    String-min over md5 hex is a valid min-hash family (md5 is a uniform
    permutation of the shingle space per seed) and is bit-identical across
    engines — which keeps the oracle portable. (doc_id, h0..h{n-1})

    Implementation is ONE fused mapInArrow kernel (guide §4.2): C-level
    regex tokenize -> k-shingle set -> hashlib md5 with the min taken over
    16-byte DIGESTS (hex encoding is order-preserving byte-for-byte, so
    digest-min == hex-min; only each doc's n_hashes winners are hex'd).
    The former Catalyst form built the shingle ARRAY through a chain of
    interpreted higher-order functions (sequence/transform/concat_ws/
    array_distinct) and ran md5 inside another interpreted lambda per
    (seed, shingle) — measured at sf1.0 (50k docs, local[32], noop sink,
    best-of-3): 2.87s vs 1.0s for this kernel; an explode + groupBy-min
    reformulation measured 26s (the fan-out dwarfs the codegen win). A
    per-task digest memo exploits repeated shingles (df > 1) and is
    cleared at 2^20 entries so a diverse corpus cannot pin worker memory.
    Output is n_hashes 32-char strings per DOC — orders of magnitude
    smaller than any intermediate, so the Python boundary ships almost
    nothing back.
    """
    import pyarrow as pa

    prefixes = [f"{s}:".encode() for s in range(n_hashes)]

    def kernel(batches):
        import hashlib
        import re

        tok_re = re.compile(r"[a-zA-Z]+")
        md5 = hashlib.md5
        memo: dict[bytes, tuple] = {}
        schema = pa.schema(
            [("doc_id", pa.int64())] + [(f"h{s}", pa.string()) for s in range(n_hashes)]
        )
        for batch in batches:
            ids = _doc_ids(batch.column(0))
            texts = batch.column(1).to_pylist()
            outs: list[list] = [[] for _ in range(n_hashes)]
            for t in texts:
                toks = tok_re.findall(t) if isinstance(t, str) else []
                if len(toks) >= k:
                    sh = {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}
                else:
                    sh = {" ".join(toks)}
                mins = [None] * n_hashes
                for s_str in sh:
                    sb = s_str.encode()
                    dig = memo.get(sb)
                    if dig is None:
                        if len(memo) >= 1 << 20:
                            memo.clear()
                        dig = memo[sb] = tuple(md5(p + sb).digest() for p in prefixes)
                    for j in range(n_hashes):
                        d = dig[j]
                        if mins[j] is None or d < mins[j]:
                            mins[j] = d
                for j in range(n_hashes):
                    outs[j].append(mins[j].hex())
            yield pa.RecordBatch.from_arrays(
                [pa.array(ids.astype("int64"), type=pa.int64())]
                + [pa.array(outs[j], type=pa.string()) for j in range(n_hashes)],
                schema=schema,
            )

    out_schema = ", ".join(["doc_id long"] + [f"h{s} string" for s in range(n_hashes)])
    return _kernel_coalesce(docs.select(F.col("doc_id").cast("long"), "text")).mapInArrow(
        kernel, out_schema
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    k: int = 3,
    n_hashes: int = 8,
    bands: int = 4,
    verify_threshold: float | None = None,
    max_bucket: int | None = None,
    log_drops: bool = False,
) -> DataFrame:
    """LSH candidate pairs: docs sharing any band key (band = md5 of its
    rows' concatenated minhashes). With verify_threshold set, candidates
    are verified with exact shingle Jaccard. (doc_a, doc_b[, jaccard])

    Scale guards (the self-join emits O(bucket^2) rows per bucket, so
    bucket size is THE cost knob):
    - rows-per-band >= 2 by default (n_hashes=8, bands=4). With 1 row per
      band a band key is a single minhash and near-dup-dense corpora
      collapse into giant buckets — measured 5x SLOWDOWN going
      local[8] -> local[32] at sf0.1 before this change.
    - ``max_bucket``: buckets larger than the cap are dropped from
      candidate generation entirely (recall-only trade-off; members of a
      giant bucket are near-identical to many docs and surface through
      their other bands or exact dedup). OPT-IN (default None = exhaustive
      banding, the recall-preserving default); pass a cap — the registry
      and bench use 64 — for web-scale corpora where one degenerate bucket
      is a quadratic blow-up. ``log_drops=True`` counts and logs the
      dropped buckets (one extra aggregate job).
    - singleton buckets are filtered before the join (they cannot pair).
    """
    assert n_hashes % bands == 0
    rows = n_hashes // bands
    sig = minhash_signatures(docs, k, n_hashes)
    band_cols = []
    for b in range(bands):
        band_cols.append(F.md5(F.concat_ws("|", *[f"h{b * rows + r}" for r in range(rows)]).cast("binary")).alias(f"band{b}"))
    banded = sig.select("doc_id", *band_cols)
    stacked = banded.select(
        "doc_id",
        F.explode(
            F.array(*[F.struct(F.lit(b).alias("band_no"), F.col(f"band{b}").alias("key")) for b in range(bands)])
        ).alias("bk"),
    ).select("doc_id", F.col("bk.band_no").alias("band_no"), F.col("bk.key").alias("key"))
    cached: list[DataFrame] = []
    if max_bucket is not None:
        # Capped banding: ONE (band_no, key) aggregation collects each
        # bucket's sorted doc list and the in-bucket (a < b) pair expansion
        # explodes JVM-side — the same shape ngram_jaccard_pairs uses. The
        # former sizes-aggregate + keep-join + self-join walked the banded
        # stream through FOUR exchanges (sizes, join, self-join x2) and
        # needed the signature scan persisted; this is two exchanges
        # (aggregate + pair distinct) and no persist. Memory per agg buffer
        # is O(bucket) longs (an oversized bucket buffers its members, is
        # measured by size(), and explodes NOTHING — the pair array of a
        # surviving bucket is bounded by cap^2/2). With NO cap a degenerate
        # bucket's pair ARRAY would be O(b^2) in one row, so the uncapped
        # (recall-exhaustive) path keeps the streaming self-join below.
        buckets = stacked.groupBy("band_no", "key").agg(
            F.sort_array(F.collect_list("doc_id")).alias("_ds")
        )
        if log_drops:
            buckets = buckets.persist()
            cached.append(buckets)
            import logging

            n_dropped = buckets.where(F.size("_ds") > max_bucket).count()
            if n_dropped:
                logging.getLogger(__name__).warning(
                    "minhash_lsh_pairs: dropped %d oversized buckets (> %d members)",
                    n_dropped, max_bucket,
                )
        pairs = (
            buckets.where((F.size("_ds") >= 2) & (F.size("_ds") <= max_bucket))
            .select(F.explode(F.expr(_PAIR_EXPR)).alias("p"))
            .select(F.col("p.a").alias("doc_a"), F.col("p.b").alias("doc_b"))
            .distinct()
        )
    else:
        # exhaustive banding: stream the self-join (no per-bucket pair
        # array); persist the banded stream feeding both sides + sizing
        stacked = stacked.persist()
        cached.append(stacked)
        sizes = stacked.groupBy("band_no", "key").agg(F.count(F.lit(1)).alias("_bsz"))
        keep = sizes.where(F.col("_bsz") >= 2)
        ok = stacked.join(keep.select("band_no", "key"), ["band_no", "key"])
        pairs = (
            ok.alias("x")
            .join(ok.alias("y"), ["band_no", "key"])
            .where(F.col("x.doc_id") < F.col("y.doc_id"))
            .select(F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b"))
            .distinct()
        )
    if verify_threshold is None:
        return _with_cached_inputs(pairs, cached)
    j = ngram_jaccard_pairs(docs, k, verify_threshold)
    return _with_cached_inputs(
        pairs.join(j, ["doc_a", "doc_b"]),
        [*cached, *getattr(j, "_cached_inputs", [])],
    )


_HEXPOS = "'0123456789abcdef'"


def _nibble(col: str, i: int) -> str:
    """0-based hex digit i of an md5 hex string -> int 0..15 (portable)."""
    return f"(position(substr({col}, {i + 1}, 1) in {_HEXPOS}) - 1)"


def simhash16(docs: DataFrame) -> DataFrame:
    """16-bit SimHash over tf-weighted token hashes.

    Bit j (0..15) of md5(token)'s first 16 bits votes +tf / -tf; the
    fingerprint sets bit j iff the vote sum is positive. Uses only
    position/substr arithmetic so the SQL oracle is engine-portable.
    (doc_id, simhash)
    """
    tok = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.explode(F.expr(TOKS)).alias("term"),
    )
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    h = tf.withColumn("_md5", F.md5(F.col("term").cast("binary")))
    # v = first 4 hex nibbles as a 16-bit int
    v = " + ".join(f"{_nibble('_md5', i)} * {16 ** (3 - i)}" for i in range(4))
    h = h.withColumn("_v", F.expr(v))
    votes = h.select(
        "doc_id",
        *[
            (F.when(F.expr(f"(_v div {2 ** j}) % 2 = 1"), F.col("tf")).otherwise(-F.col("tf"))).alias(f"b{j}")
            for j in range(16)
        ],
    ).groupBy("doc_id").agg(*[F.sum(f"b{j}").alias(f"b{j}") for j in range(16)])
    bits = sum(
        (F.when(F.col(f"b{j}") > 0, F.lit(2**j)).otherwise(F.lit(0)) for j in range(16)),
        F.lit(0),
    )
    return votes.select("doc_id", bits.cast("long").alias("simhash"))


def embedding_neardup_lsh_pairs(
    emb: DataFrame, plane_ids: list[int], threshold: float = 0.45
) -> DataFrame:
    """LSH-bucketed near-dup pairs: the SCALE path for embedding dedup.

    Vectors are sign-LSH bucketed (planes = stored vectors, data-derived
    and engine-portable); the quadratic cosine verify runs only WITHIN a
    bucket — expected bucket size n/2^planes, so cost is sum of bucket^2,
    never corpus^2. Recall trade-off: a near-dup pair split by a plane is
    missed (standard banding economics; add plane sets to union recall).
    (vec_a, vec_b, bucket, cos)
    """
    from .similarity import cosine_expr, lsh_bucket_expr

    sel = emb
    for p, pid in enumerate(plane_ids):
        pv = emb.where(F.col("vec_id") == pid).select(F.col("embedding").alias(f"_plane{p}"))
        sel = sel.crossJoin(F.broadcast(pv))
    bucketed = sel.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        "embedding",
        lsh_bucket_expr("embedding", plane_ids).cast("long").alias("bucket"),
    )
    a = bucketed.select(
        F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea"), "bucket"
    )
    b = bucketed.select(
        F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb"), "bucket"
    )
    return (
        a.join(b, "bucket")
        .where(F.col("vec_a") < F.col("vec_b"))
        .withColumn("_c", cosine_expr("ea", "eb"))
        .where(F.col("_c") >= threshold)
        .select("vec_a", "vec_b", "bucket", (F.round("_c", 6) + F.lit(0.0)).alias("cos"))
    )


def embedding_neardup_pairs(emb: DataFrame, threshold: float = 0.45) -> DataFrame:
    """Brute-force cosine near-duplicate pairs over an embedding column.

    (vec_a, vec_b, cos) for cos >= threshold, vec_a < vec_b. The O(n^2)
    baseline; the LSH-bucketed scale path lives in similarity.py.
    """
    from .similarity import cosine_expr

    a = emb.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea"))
    b = emb.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb"))
    return (
        a.crossJoin(b)
        .where(F.col("vec_a") < F.col("vec_b"))
        .withColumn("_c", cosine_expr("ea", "eb"))
        .where(F.col("_c") >= threshold)
        .select("vec_a", "vec_b", (F.round("_c", 6) + F.lit(0.0)).alias("cos"))
    )


def dup_groups(docs: DataFrame, pairs: DataFrame, max_iters: int = 20) -> DataFrame:
    """Resolve near-dup PAIRS into duplicate GROUPS: connected components
    via iterative min-label propagation; canonical keeper = min doc_id.

    (doc_id, component, group_size, is_dup) — ``component`` doubles as the
    keeper id (labels start as doc_ids; only the min survives propagation).

    This is the step a training-data pipeline needs after candidate
    generation: LSH/Jaccard emit PAIRS, and deleting one doc per pair
    over-deletes when dups chain A-B-C. Scale shape: each round is one
    shuffle join (edges x labels) + one combinable min-aggregate; rounds
    needed = component diameter, which for near-dup clusters (band-bucket
    near-cliques) is 2-4. The convergence probe is a count() aggregate —
    no row data ever reaches the driver. For adversarial long-path graphs
    swap in alternating large-star/small-star (Kiveris et al., "Connected
    Components in MapReduce and Beyond") — same join shape, O(log^2 n)
    rounds; unnecessary for dup clusters.
    """
    nodes = docs.select(F.col("doc_id").cast("long").alias("doc_id"))
    e = pairs.select(
        F.col("doc_a").cast("long").alias("src"), F.col("doc_b").cast("long").alias("dst")
    )
    edges = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).persist()
    labels = nodes.select("doc_id", F.col("doc_id").alias("component")).persist()
    labels.count()
    changed = 0
    for _ in range(max_iters):
        nbr = edges.join(
            labels.select(F.col("doc_id").alias("src"), "component"), "src"
        ).select(F.col("dst").alias("doc_id"), "component")
        new = (
            labels.unionByName(nbr)
            .groupBy("doc_id")
            .agg(F.min("component").alias("component"))
            .persist()
        )
        changed = (
            new.join(labels.withColumnRenamed("component", "_old"), "doc_id")
            .where(F.col("component") < F.col("_old"))
            .count()
        )
        labels.unpersist()
        labels = new
        if changed == 0:
            break
    if changed != 0:
        # diameter > max_iters: labels are only partially propagated —
        # surface it instead of silently returning split components
        import logging

        logging.getLogger(__name__).warning(
            "dup_groups: min-label propagation did NOT converge after %d "
            "rounds (%d labels still changing) — components may be split; "
            "raise max_iters or switch to large-star/small-star",
            max_iters, changed,
        )
    edges.unpersist()
    grp = labels.groupBy("component").agg(
        F.count(F.lit(1)).cast("long").alias("group_size")
    )
    out = labels.join(grp, "component").select(
        "doc_id",
        "component",
        "group_size",
        (F.col("doc_id") != F.col("component")).alias("is_dup"),
    )
    return _with_cached_inputs(out, [labels, *getattr(pairs, "_cached_inputs", [])])
