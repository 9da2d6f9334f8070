"""Math expression search + mixed-query scoring (reference Q19-Q21 + Q11).

Reference flow: per TEX keyword, AND-merge the per-subpath posting lists on
the (doc_id, exp_id) composite key, score each matched expression with the
MNC bipartite match, keep each doc's max expression score, then feed those
transient postings into the top-level OR merge beside the term postings
(search/math-expr-search.c:150-264, math-search.c:117-209, search.c:120-135).

Mixed queries score math with MNC mark-and-cross over the engine's one
math index, the leaf-root path table ``math_lr`` (reference
search/mnc-score.c:264-330): prefix/suffix-match the ordered query paths
against the lr table with keyed broadcast joins, AND-merge candidates
(every query path matched, n_lr >= n_q), then run the bitmap
mark-and-cross per candidate expression inside mapInPandas — the
quadratic-ish loop only ever touches the candidate tail, never the corpus.
Exact match scores 100*n_q (normalized to 1.0 in mixed totals).

The standalone Q19 subpath operator (``math_expr_scores``) scores
containment similarity over the subpath-set table of
``index.build_math_index``: concrete subpath matches weigh 2, gener
(alpha-equivalent) matches weigh 1, scaled by an expression-size symmetry
penalty — a pure column aggregate. Only that operator reads the subpath
table, and only it is bound by the reference read guards
(hostile-query robustness): at most ``MAX_MATH_LISTS`` = 512 subpath
posting lists merge per TEX keyword (search/config.h:10
MAX_MERGE_POSTINGS role) and at most ``MAX_MATH_ITEMS_PER_LIST`` = 301000
items are read per list (search/config.h:43 role); both truncations are
deterministic.

Mixed total score is the reference formula verbatim (search/search.c:253-274):
  total = prox + (1 + max_math)/2 * bm25 + 10000 * (match_dim + [max_math>0])
Proximity merges term-keyword positions with MATCHED expression positions
(exp_pos, one extra keyword per TEX keyword — search/search.c:215-237,
indexer/index.c:149-151 gives each math expression a token position).
A mixed query is one lazy plan: each doc's math row meets that doc's
serving-shard term blocks in one cogrouped kernel (``mixed_search``).
"""

from __future__ import annotations

import math as _math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..operators import scoring as S
from ..plans import serve
from ..plans.build import InvertedIndex
from ..plans.query import digest_query, top_k
from .index import extract_math_spans
from .texparse import tex_lr_paths, tex_subpaths

MAX_MATH_LISTS = 512  # search/config.h:10 — max posting lists per dir-merge
MAX_MATH_ITEMS_PER_LIST = 301_000  # search/config.h:43 — read cap per list


def _containment_per_exp(
    spark: SparkSession,
    math_postings: DataFrame,
    tex: str,
    max_items_per_list: int = MAX_MATH_ITEMS_PER_LIST,
) -> DataFrame | None:
    """One TEX keyword -> (doc_id, exp_id, sim, exp_pos) containment scores.

    sim = (matched_w / denom_q) * (min(nq, nd) / max(nq, nd)) — exact-symbol
    matches outrank alpha-equivalent ones, size-asymmetric expressions rank
    below same-shape ones.
    """
    qpaths = tex_subpaths(tex)[:MAX_MATH_LISTS]
    if not qpaths:
        return None
    denom = float(sum(2 if not g else 1 for _, g in qpaths))
    nq = len(qpaths)
    qdf = spark.createDataFrame(
        [(p, g, 2.0 if not g else 1.0) for p, g in qpaths],
        "subpath string, is_gener boolean, w double",
    )
    matched = math_postings.join(F.broadcast(qdf), ["subpath", "is_gener"])
    if max_items_per_list is not None:
        # reference read cap: each subpath "directory" yields at most N
        # items in deterministic (doc_id, exp_id) order
        wnd = Window.partitionBy("subpath", "is_gener").orderBy("doc_id", "exp_id")
        matched = (
            matched.withColumn("_rn", F.row_number().over(wnd))
            .where(F.col("_rn") <= max_items_per_list)
            .drop("_rn")
        )
    per_exp = matched.groupBy("doc_id", "exp_id").agg(
        F.sum("w").alias("mw"),
        F.max("n_paths").alias("nd"),
        F.max("exp_pos").alias("exp_pos"),
    )
    sim = (F.col("mw") / F.lit(denom)) * (
        F.least(F.lit(nq), F.col("nd")) / F.greatest(F.lit(nq), F.col("nd"))
    )
    return per_exp.select("doc_id", "exp_id", sim.alias("sim"), "exp_pos")


def math_expr_scores(spark: SparkSession, math_postings: DataFrame, tex: str) -> DataFrame:
    """One TEX keyword -> (doc_id, math_score) with per-doc max expr sim
    (containment similarity)."""
    pe = _containment_per_exp(spark, math_postings, tex)
    if pe is None:
        return spark.createDataFrame([], "doc_id long, math_score double")
    return pe.groupBy("doc_id").agg(F.max("sim").alias("math_score"))


_MNC_SCHEMA = "doc_id long, mnc_score long, exp_pos_list array<int>"


def mnc_expr_scores(
    spark: SparkSession,
    lr_postings: DataFrame,
    tex: str,
    assume_doc_partitioned: bool = False,
) -> DataFrame:
    """Reference-fidelity expression ranking: the MNC mark-and-cross score
    (search/mnc-score.c, math-expr-search.c:280-360) over the ordered
    leaf-root path table (build_math_lr_index).

    Returns (doc_id, mnc_score, exp_pos_list): one row per doc with at
    least one positive-score expression, its max expression score and the
    token positions of those expressions (empty for an empty query).

    Dataflow: broadcast the (tiny, sorted) query-path frame; a keyed
    prefix/suffix probe generates per-(doc,exp) relevance rows; candidates
    must match EVERY distinct query structure (the reference's AND dir
    merge) and satisfy n_qry <= n_doc paths; the bitmap mark-and-cross then
    runs per candidate expression in one mapInPandas pass, which also takes
    each doc's max — no aggregation exchange after the kernel.

    ``assume_doc_partitioned``: the lr table came STRAIGHT from the narrow
    ``build_math_lr_index`` pass (mapInPandas over the docs frame), so every
    doc's rows already live in one partition and a SINGLE-branch candidate
    probe (broadcast join — narrow) preserves that. The pre-kernel
    repartition exchange is then skipped outright (guide §2.4):
    sortWithinPartitions alone gives the kernel its contiguous groups. A
    multi-branch query (concrete + wildcard paths) unions per-branch copies
    of the partitioning, so the exchange stays. Saved lr tables are
    partitioned by lseg_bucket (NOT by doc), so the flag is ignored on a
    table that carries that column: trusting it there would emit duplicate
    partial rows per doc.
    """
    from .mnc import order_query_paths

    qpaths = tex_lr_paths(tex)
    if not qpaths:
        return spark.createDataFrame([], _MNC_SCHEMA)
    q_sorted = order_query_paths(qpaths)
    n_q = len(q_sorted)

    # Candidate generation is a KEYED probe, not a scan (reference: the dir
    # merge opens only the query's subpath directories, dir-merge.c:74-89).
    # Bucket the query paths by which equi-key their match predicate fixes:
    # - concrete (q_sym != '*'): doc struct must equal q_struct or extend it
    #   root-ward (prefix + '/'), so the doc path's leaf-anchored FIRST
    #   segment equals q_struct's first segment -> equi-join on leaf_seg;
    # - wildcard with a trail (struct minus the 'V/' leaf marker): doc
    #   struct must equal the trail or end with '/' + trail, so the doc
    #   path's LAST segment equals the trail's last segment -> equi-join on
    #   root_seg (an empty trail from a 2-char q_struct keys to '' and
    #   matches nothing — exactly the old predicate's behavior);
    # - bare wildcard (len(q_struct) <= 1): matches EVERY path — joined on
    #   a constant key (a full match IS a full read; single-qvar queries
    #   only). The exact prefix/suffix predicate stays as a post-filter, so
    #   results are identical to the former nested-loop condition.
    q_conc, q_wild, q_all = [], [], []
    for i, (s, sym) in enumerate(q_sorted):
        if sym != "*":
            q_conc.append((i, s, sym, s.split("/")[0]))
        elif len(s) <= 1:
            q_all.append((i, s, sym))
        else:
            trail = s[2:]
            q_wild.append((i, s, sym, trail.rsplit("/", 1)[-1] if trail else ""))

    lr = lr_postings.where(F.col("n_lr") >= n_q)
    if "leaf_seg" not in lr.columns:  # pre-keyed tables carry these columns
        lr = lr.withColumn("leaf_seg", F.substring_index("struct", "/", 1)).withColumn(
            "root_seg", F.substring_index("struct", "/", -1)
        )
    branches = []
    qcols = "q_ord int, q_struct string, q_sym string"
    if q_conc:
        qc = spark.createDataFrame(q_conc, qcols + ", q_key string")
        conc_lr = lr
        if "lseg_bucket" in lr.columns:
            # storage-partitioned lr table (engine.save): the concrete
            # branch probes on leaf_seg, so pre-filtering the query keys'
            # bucket set prunes every unrelated partition directory at the
            # scan (dir-merge.c:74-89 seek-only-the-query's-directories)
            from .index import LR_BUCKETS, bucket_of

            bset = sorted({bucket_of(k, LR_BUCKETS) for _, _, _, k in q_conc})
            conc_lr = lr.where(F.col("lseg_bucket").isin(bset))
        branches.append(
            conc_lr.join(F.broadcast(qc), F.col("leaf_seg") == F.col("q_key")).where(
                (F.col("struct") == F.col("q_struct"))
                | F.col("struct").startswith(F.concat(F.col("q_struct"), F.lit("/")))
            )
        )
    if q_wild:
        qw = spark.createDataFrame(q_wild, qcols + ", q_key string")
        trail = F.expr("substring(q_struct, 3)")
        branches.append(
            lr.join(F.broadcast(qw), F.col("root_seg") == F.col("q_key")).where(
                (F.col("struct") == trail)
                | F.col("struct").endswith(F.concat(F.lit("/"), trail))
            )
        )
    if q_all:
        qa = spark.createDataFrame(q_all, qcols).withColumn("_k", F.lit(1))
        branches.append(
            lr.withColumn("_k", F.lit(1)).join(F.broadcast(qa), "_k").drop("_k")
        )
    out_cols = ["doc_id", "exp_id", "struct", "symbol", "path_id", "n_lr", "exp_pos", "q_ord"]
    matched = branches[0].select(*out_cols)
    for b in branches[1:]:
        matched = matched.unionByName(b.select(*out_cols))
    qlist = list(q_sorted)

    # ONE exchange, ONE Python pass: the matched rows are hash-partitioned
    # by doc_id (every expression of a doc in one partition) and SORTED
    # WITHIN the partition on (doc_id, exp_id), so the kernel walks
    # candidate expressions STREAMINGLY: it holds one expression's rows at
    # a time and flushes finished docs between Arrow batches — worst-case
    # task memory is max-group-size, never whole-partition-size (a hostile
    # corpus slice matching one query path cannot OOM the scorer). Each
    # group runs the AND-merge predicate (all n_q distinct query paths
    # present) and the mark-and-cross bitmap; only docs with a
    # positive-score expression emit.
    def score_docs(batches):
        cur_key = None
        cur_rows: list = []
        cur_doc = None
        best = 0
        plist: list[int] = []
        out_d, out_s, out_p = [], [], []

        def _flush_doc():
            nonlocal cur_doc, best, plist
            if cur_doc is not None and best > 0:
                out_d.append(cur_doc)
                out_s.append(best)
                out_p.append(plist)
            cur_doc, best, plist = None, 0, []

        def _flush_group():
            nonlocal cur_doc, best, plist
            if cur_key is None or not cur_rows:
                return
            rws = cur_rows
            if len({r[7] for r in rws}) != n_q:
                return  # AND merge: every query path must match
            # dedup by path_id in path order (a doc path can satisfy
            # several query paths); n_lr carries the true expression size
            seen = set()
            dedup = []
            for r in sorted(rws, key=lambda x: x[4]):
                if r[4] in seen:
                    continue
                seen.add(r[4])
                dedup.append((r[2], r[3], int(r[4])))
            s = _mnc_sim_sparse(qlist, dedup, int(rws[0][5]))
            if s <= 0:
                return
            if cur_key[0] != cur_doc:
                _flush_doc()
                cur_doc = cur_key[0]
            if s > best:
                best = s
            plist.append(int(rws[0][6]))

        for pdf in batches:
            for row in zip(
                pdf["doc_id"].to_numpy(),
                pdf["exp_id"].to_numpy(),
                pdf["struct"],
                pdf["symbol"],
                pdf["path_id"].to_numpy(),
                pdf["n_lr"].to_numpy(),
                pdf["exp_pos"].to_numpy(),
                pdf["q_ord"].to_numpy(),
            ):
                key = (int(row[0]), int(row[1]))
                if key != cur_key:
                    _flush_group()
                    cur_key, cur_rows = key, []
                cur_rows.append(row)
            if out_d and len(out_d) >= 4096:
                yield pd.DataFrame(
                    {"doc_id": out_d, "mnc_score": out_s, "exp_pos_list": out_p}
                )
                out_d, out_s, out_p = [], [], []
        _flush_group()
        _flush_doc()
        if out_d:
            yield pd.DataFrame(
                {"doc_id": out_d, "mnc_score": out_s, "exp_pos_list": out_p}
            )

    skip_exchange = (
        assume_doc_partitioned
        and len(branches) == 1
        and "lseg_bucket" not in lr_postings.columns
    )
    if not skip_exchange:
        matched = matched.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    return matched.sortWithinPartitions("doc_id", "exp_id").mapInPandas(
        score_docs, _MNC_SCHEMA
    )


def _mnc_sim_sparse(q_sorted, doc_rows, n_d: int) -> int:
    """expr_mnc_sim twin over pre-matched sparse doc rows [(struct, sym,
    path_id)] with the true expression size n_d (the full path list is not
    shipped — only structurally relevant rows reach the executor)."""
    from .mnc import MAX_DOC_PATHS, mnc_total, struct_match_depth

    n_q = len(q_sorted)
    if n_q == 0 or n_d == 0 or n_q > n_d:
        return 0
    doc_syms: list[str] = []
    slot_of: dict[str, int] = {}
    rel: list[dict[int, int]] = [dict() for _ in q_sorted]
    min_d = [None] * n_q
    for struct, sym, pid in doc_rows:
        if pid > MAX_DOC_PATHS:
            continue
        for i, (q_struct, q_sym) in enumerate(q_sorted):
            d = struct_match_depth(q_struct, q_sym, struct)
            if d is None:
                continue
            if sym not in slot_of:
                slot_of[sym] = len(doc_syms)
                doc_syms.append(sym)
            j = slot_of[sym]
            rel[i][j] = rel[i].get(j, 0) | (1 << (pid - 1))
            if min_d[i] is None or d < min_d[i]:
                min_d[i] = d
    if any(m is None for m in min_d):
        return 0
    level = max(min_d)
    total = mnc_total([s for _, s in q_sorted], doc_syms, rel)
    return total // (level + (n_d - n_q) + 1)


def split_query(qtext: str) -> tuple[list[str], list[str]]:
    """Mixed query -> (term keywords, tex keywords).

    TEX spans come out verbatim; the remaining text digests through the
    term tokenizer (which would have emitted math_exp placeholders — those
    are dropped here because the TEX keywords replace them, matching the
    reference's typed-keyword query model, search/query.h:9-32).
    """
    # no caps here: the 4-math / 20-term limits are daemon ADMISSION rules
    # (searchd/run/searchd.c:62-73 rejects, never truncates) — enforced in
    # engine.query_json
    texes = extract_math_spans(qtext)
    terms = [t for t in digest_query(qtext) if t != "math_exp"]
    return terms, texes


_MIXED_SCHEMA = (
    "doc_id long, bm25 double, match_dim double, max_math double, "
    "prox double, score double"
)
_MIXED_COLS = ["doc_id", "bm25", "match_dim", "max_math", "prox", "score"]
_MIXED_DTYPES = dict(zip(_MIXED_COLS, ["int64"] + ["float64"] * 5))
_MATH_SCHEMA = "doc_id long, kw_idx int, math_score double, _mpos array<int>"
_MATH_COLS = ["doc_id", "kw_idx", "math_score", "_mpos"]


def mixed_search(
    spark: SparkSession,
    index: InvertedIndex,
    math_lr_postings: DataFrame,
    qtext: str,
    mode: str = "or",
    k: int = S.RANK_K,
    with_prox: bool = True,
    lr_doc_partitioned: bool = False,
) -> DataFrame:
    """Full mixed term+math query -> top-k
    (doc_id, bm25, match_dim, max_math, prox, score).

    Math scoring: the math component IS the reference MNC mark-and-cross
    ranking (search/mnc-score.c:264-330) over ``math_lr_postings``
    (build_math_lr_index output), normalized so an exact expression match
    scores 1.0 (= 100*n_q raw). MNC's own n_lr >= n_q + AND dir-merge
    pruning bounds the candidate tail. ``lr_doc_partitioned``: see
    ``mnc_expr_scores``'s ``assume_doc_partitioned``.

    Proximity: matched expression positions join the term positions as one
    extra keyword per TEX keyword (reference search/search.c:215-237) — a
    doc whose only adjacency is term<->math gets prox != ln 0.3.

    Serving shape: one lazy plan. Each math candidate row goes to the
    serving shard that owns its doc (_mixed_routed_search), where the
    doc-sharded serving scorer (plans/serve._batch_score_shard) runs with
    a per-doc math channel — the reference merges its transient math
    postings into the same DAAT loop as the term iterators
    (search/search.c:374). Nothing is persisted or collected here, so the
    caller has nothing to release. On ONE serving shard the kernel sees
    every block of each query term, so it takes term idf from the blocks'
    ``n`` counts (serve._block_idf) and no df lookup runs; past one shard
    idf comes from serve.df_lookup.
    """
    terms, texes = split_query(qtext)
    n_terms = len(terms)

    # per-TEX-keyword per-doc frames: (doc_id, kw_idx, math_score, [exp_pos...])
    per_tex: list[DataFrame] = []
    for ti, tex in enumerate(texes):
        n_q = len(tex_lr_paths(tex))
        if n_q == 0:
            continue
        per_tex.append(
            mnc_expr_scores(
                spark, math_lr_postings, tex, assume_doc_partitioned=lr_doc_partitioned
            ).select(
                "doc_id",
                F.lit(n_terms + ti).alias("kw_idx"),
                (F.col("mnc_score") / F.lit(100.0 * n_q)).alias("math_score"),
                F.col("exp_pos_list").alias("_mpos"),
            )
        )

    if not terms and not per_tex:
        return spark.createDataFrame([], _MIXED_SCHEMA)
    serving, n_shards = serve.serving_coalesce(index.doc_blocks, docN=index.docN)
    kws = []
    if terms:
        if n_shards <= 1:
            kws = [(i, t, None) for i, t in enumerate(terms)]  # idf from the blocks
        else:
            dfmap = serve.df_lookup(index, terms)
            kws = [
                (i, t, S.idf(dfmap.get(t, 0.0), float(index.docN)))
                for i, t in enumerate(terms)
            ]
    return _mixed_routed_search(
        spark, index, serving, n_shards, kws, mode, per_tex, k, with_prox
    )


def _minfo(rows) -> dict[int, list]:
    """(doc_id, kw_idx, math_score, positions) rows ->
    doc_id -> [max_math, [(kw_idx, [positions...])...]]."""
    minfo: dict[int, list] = {}
    for doc, kw_idx, score, pos in rows:
        e = minfo.setdefault(int(doc), [0.0, []])
        e[0] = max(e[0], float(score))
        e[1].append((int(kw_idx), [int(p) for p in pos]))
    return minfo


def _math_channel(minfo: dict[int, list]):
    """minfo -> the scorer's math channel (plans/serve._batch_score_shard):
    sorted doc ids, their max math score, and one (kw_idx, doc ids,
    positions) stream per TEX keyword."""
    docs = sorted(minfo)
    by_kw: dict[int, tuple[list, list]] = {}
    for d in docs:
        for kw_idx, pl in minfo[d][1]:
            sdoc, spos = by_kw.setdefault(kw_idx, ([], []))
            sdoc += [d] * len(pl)
            spos += pl
    streams = [
        (kw_idx, np.asarray(sdoc, dtype=np.int64), np.asarray(spos, dtype=np.int64))
        for kw_idx, (sdoc, spos) in by_kw.items()
        if sdoc
    ]
    return (
        np.asarray(docs, dtype=np.int64),
        np.asarray([minfo[d][0] for d in docs], dtype=np.float64),
        streams,
    )


def _solo_prox(plist: list) -> float:
    """Proximity of a MATH-ONLY doc: min adjacent cross-keyword gap within
    the matched expression positions alone (>= 2 TEX keywords needed)."""
    arr = sorted((p, kwi) for kwi, pl in plist for p in pl)
    best = None
    for (p1, k1), (p2, k2) in zip(arr, arr[1:]):
        if k1 != k2 and (best is None or p2 - p1 < best):
            best = p2 - p1
    if best is None:
        return S.LN_03
    return float(_math.log(0.3 + _math.exp(-float(best))))


def _solo_frame(minfo: dict[int, list], with_prox: bool, skip=frozenset()) -> pd.DataFrame:
    """Math-only docs (no term postings): bm25 = 1, match_dim = 0, prox from
    their matched expression positions alone."""
    rows = []
    for d, (s, plist) in minfo.items():
        if d in skip:
            continue
        prox = _solo_prox(plist) if with_prox else S.LN_03
        rows.append((d, 1.0, 0.0, s, prox, prox + (1.0 + s) / 2.0 + S.MATCH_DIM_WEIGHT))
    return pd.DataFrame(rows, columns=_MIXED_COLS).astype(_MIXED_DTYPES)


def _score_shard(batches, kws, mode, k, with_prox, avgdl, docN, channel) -> pd.DataFrame | None:
    """One shard's term blocks + math channel -> its local top-k plus every
    term-matched math doc (the serving scorer), or None without term hits.
    Keywords without an idf (one serving shard: these blocks are every
    block of each term) take it from the blocks' ``n`` counts."""
    pdfs = [pdf for pdf in batches if not pdf.empty]
    if any(idf is None for _, _, idf in kws):
        [(_, kws, _)] = serve._block_idf([("q", kws, mode)], pdfs, docN)
    decoded = serve._decode_partition(pdfs, want_pos=with_prox)
    if not decoded:
        return None
    for _, res in serve._batch_score_shard(
        [("q", kws, mode)], decoded, avgdl, k, with_prox, math=channel
    ):
        udoc, bm25, match_dim, _, prox, total, mm = res
        return pd.DataFrame(
            {
                "doc_id": udoc,
                "bm25": bm25,
                "match_dim": match_dim,
                "max_math": mm,
                "prox": prox,
                "score": total,
            }
        )
    return None


def _mixed_routed_search(
    spark: SparkSession,
    index: InvertedIndex,
    serving: DataFrame,
    n_shards: int,
    kws: list[tuple[int, str, float | None]],
    mode: str,
    per_tex: list[DataFrame],
    k: int,
    with_prox: bool,
) -> DataFrame:
    """Mixed serving with each math candidate ROUTED to its doc's shard.

    Every math row goes to the serving shard that owns its doc id — the
    doc-id runs of plans/cache.partition_doc_ranges over the serving
    layout — and the shard's term blocks meet it in one cogrouped pandas
    kernel that runs the serving scorer with the math channel. Both sides
    are keyed by the same content lookup (a block's first doc id pins its
    shard), so each doc is scored by exactly one group and no dedup window
    is needed: term-matched docs get the full mixed total, math-only docs
    bm25 = 1. On ONE serving shard every doc is on shard 0, so both sides
    take that constant key and no doc-id runs are computed. A math-only
    query (no term keywords) has no term side and spreads its math rows
    over hash buckets of the doc id instead.
    """
    avgdl, docN = float(index.avgdl), float(index.docN)
    solo = mode != "and" or not kws
    if per_tex:
        math_rows = per_tex[0]
        for mdf in per_tex[1:]:
            math_rows = math_rows.unionByName(mdf)
    else:  # term keywords only: every TEX keyword parsed to no path
        math_rows = spark.createDataFrame([], _MATH_SCHEMA)

    def score(blocks: pd.DataFrame, mrows: pd.DataFrame) -> pd.DataFrame:
        minfo = _minfo(mrows[_MATH_COLS].itertuples(index=False, name=None))
        out = _score_shard(
            [blocks], kws, mode, k, with_prox, avgdl, docN, _math_channel(minfo)
        )
        frames = [] if out is None else [out]
        if solo:
            seen = set() if out is None else set(out["doc_id"][out["max_math"] > 0].tolist())
            frames.append(_solo_frame(minfo, with_prox, skip=seen))
        return pd.concat(frames, ignore_index=True) if frames else _solo_frame({}, with_prox)

    if not kws:
        bucket = F.pmod(F.xxhash64("doc_id"), F.lit(spark.sparkContext.defaultParallelism))
        local = math_rows.groupBy(bucket.alias("_shard")).applyInPandas(
            lambda mrows: score(pd.DataFrame(), mrows), _MIXED_SCHEMA
        )
        return top_k(local, k).select(*_MIXED_COLS)

    blocks = serving.filter(serve.sql_in("term", {t for _, t, _ in kws}))
    if n_shards <= 1:
        blocks = blocks.withColumn("_shard", F.lit(0))
        math_rows = math_rows.withColumn("_shard", F.lit(0))
    else:
        from ..plans.cache import partition_doc_ranges, run_owner

        # the runs of the query terms' blocks suffice: a math doc outside
        # them has no query-term posting and is scored math-only
        owner = run_owner(partition_doc_ranges(blocks))

        @F.pandas_udf("long")
        def shard_of(doc: pd.Series) -> pd.Series:
            return pd.Series(owner(doc.to_numpy()))

        blocks = blocks.withColumn("_shard", shard_of("first_doc_id"))
        math_rows = math_rows.withColumn("_shard", shard_of("doc_id"))
    local = (
        blocks.groupBy("_shard")
        .cogroup(math_rows.groupBy("_shard"))
        .applyInPandas(score, _MIXED_SCHEMA)
    )
    return top_k(local, k).select(*_MIXED_COLS)
