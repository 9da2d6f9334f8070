"""User-facing engine facade — the reference daemon's surface, Spark-backed.

A user of approach0 interacts through two binaries: ``indexer.out`` (build)
and ``searchd`` (query -> paginated JSON with snippets,
searchd/utils.c:173-389). This module is that surface over the PySpark
engine: build/save/load an index, run term / math / mixed queries, and
render the daemon's response shape
``{ret_code, ret_str, tot_pages, hits: [{docid, score, title, url,
snippet}]}`` with 10 hits per page (search/config.h:30) out of the
155-deep rank set (search/config.h:29). The HTTP listener lives in
``searchd.py`` (stdlib http.server; POST /search on 8921 like
searchd/config.h) and wraps ``query_json``.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from .math.index import build_math_index, build_math_lr_index
from .math.search import mixed_search, split_query
from .operators import scoring as S
from .plans.build import InvertedIndex, build_index, load_index, save_index
from .plans.query import search
from .plans.snippet import snippets_for

RES_PER_PAGE = 10  # search/config.h:30 DEFAULT_RES_PER_PAGE

# the reference daemon's return-code enum + strings, verbatim
# (searchd/utils.h:9-24 searchd_ret_str_map)
RET_SUCC = 0
RET_EMPTY_QRY = 1
RET_BAD_JSON = 2
RET_NO_HIT = 3
RET_BAD_PAGE = 4
RET_WINDOW_ERR = 5
RET_TOO_MANY_MATH_KW = 6
RET_TOO_MANY_TERM_KW = 7
RET_STR = {
    RET_SUCC: "Successful",
    RET_EMPTY_QRY: "Empty or unrecognized query",
    RET_BAD_JSON: "Invalid query JSON",
    RET_NO_HIT: "No hit found",
    RET_BAD_PAGE: "Illegal page number",
    RET_WINDOW_ERR: "Rank window calculation error",
    RET_TOO_MANY_MATH_KW: "Too many math keywords in query",
    RET_TOO_MANY_TERM_KW: "Too many term keywords in query",
}
MAX_MATH_KW = 4  # searchd/config.h:22 MAX_ACCEPTABLE_MATH_KEYWORDS
MAX_TERM_KW = 20  # searchd/config.h:23 MAX_ACCEPTABLE_TERM_KEYWORDS


def errcode_json(code: int) -> dict:
    """search_errcode_json twin (searchd/utils.c:189)."""
    return {"ret_code": code, "ret_str": RET_STR[code], "tot_pages": 0, "hits": []}


@dataclass
class SearchEngine:
    spark: SparkSession
    index: InvertedIndex
    math_postings: DataFrame | None = None
    math_lr_postings: DataFrame | None = None

    # ------------------------------------------------------------- build --
    @classmethod
    def build(
        cls, spark: SparkSession, corpus: DataFrame, with_math: bool = False, **kw
    ) -> "SearchEngine":
        """Index a corpus ``(url, text, ...)``; with_math also builds the
        TeX subpath + MNC pathinfo tables from [imath] spans."""
        idx = build_index(spark, corpus, **kw)
        mp = lr = None
        if with_math:
            docs = idx.docstore.select("doc_id", "text")
            mp = build_math_index(docs)
            lr = build_math_lr_index(docs)
        return cls(spark, idx, mp, lr)

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "SearchEngine":
        import os

        idx = load_index(spark, path)
        mp = lr = None
        if os.path.exists(f"{path}/math_postings"):
            mp = spark.read.parquet(f"{path}/math_postings")
        if os.path.exists(f"{path}/math_lr"):
            lr = spark.read.parquet(f"{path}/math_lr")
        return cls(spark, idx, mp, lr)

    def save(self, path: str) -> None:
        """Index tables to ``path``; the math tables are PARTITIONED BY the
        hash bucket of their probe key (subpath / leaf_seg), so a loaded
        engine's keyed MNC probe prunes unrelated files at the storage
        layer — the directory-per-subpath seek of the reference
        (math-index/dir-merge.c:74-89) expressed as partition pruning."""
        from .math.index import LR_BUCKETS, MP_BUCKETS, bucket_col

        save_index(self.index, path)
        if self.math_postings is not None:
            self.math_postings.withColumn(
                "sp_bucket", bucket_col("subpath", MP_BUCKETS)
            ).write.mode("overwrite").partitionBy("sp_bucket").parquet(
                f"{path}/math_postings"
            )
        if self.math_lr_postings is not None:
            self.math_lr_postings.withColumn(
                "lseg_bucket", bucket_col("leaf_seg", LR_BUCKETS)
            ).write.mode("overwrite").partitionBy("lseg_bucket").parquet(
                f"{path}/math_lr"
            )

    def warm(self, cache_budget_bytes: int | None = None) -> "SearchEngine":
        """Daemon-start warm-up (indices.c:128-178). With a budget: the
        df-hottest terms' postings, up to that many compressed block bytes,
        decoded into the driver as ``index.hot_postings`` (plans/cache.py);
        only the daemon's driver-side scorer reads them, and nothing is
        persisted. Without one: persist the serving tables."""
        if cache_budget_bytes is None:
            self.index.cache()
        else:
            import dataclasses

            from .plans.cache import build_posting_cache

            cache = build_posting_cache(self.index, cache_budget_bytes)
            self.index = dataclasses.replace(self.index, hot_postings=cache.hot_postings)
        return self

    # ------------------------------------------------------------- query --
    def query(self, qtext: str, mode: str = "or", k: int = S.RANK_K, **kw) -> DataFrame:
        """Ranked hits; routes mixed term+math queries automatically."""
        _, texes = split_query(qtext)
        if texes and self.math_postings is not None:
            return mixed_search(
                self.spark, self.index, self.math_postings, qtext, mode=mode, k=k,
                math_lr_postings=self.math_lr_postings, **kw,
            )
        return search(self.spark, self.index, qtext, mode=mode, k=k, **kw)

    def _admit(self, qtext: str, page: int):
        """Reference admission checks in reference ORDER
        (searchd/run/searchd.c:46-73): page 0 signals a request-JSON parse
        failure (parse_json_qry returns 0 -> BAD_JSON, utils.c:111-167),
        THEN empty query, then the math/term keyword limits. Returns
        (terms, texes, None) on admit or (.., .., errcode_json) on reject."""
        terms, texes = split_query(qtext)
        if page < 1:
            return terms, texes, errcode_json(RET_BAD_JSON)
        if not terms and not texes:
            return terms, texes, errcode_json(RET_EMPTY_QRY)
        if len(texes) > MAX_MATH_KW:  # searchd/run/searchd.c:62-66
            return terms, texes, errcode_json(RET_TOO_MANY_MATH_KW)
        if len(terms) > MAX_TERM_KW:  # searchd/run/searchd.c:69-73
            return terms, texes, errcode_json(RET_TOO_MANY_TERM_KW)
        return terms, texes, None

    @staticmethod
    def _page_reply(rows: list, page: int) -> dict:
        """Collected snippet rows -> one page of the daemon response.

        Mirrors search_results_json (searchd/utils.c:350-389) with
        i = page - 1: NO_HIT only when (i | tot_pages) == 0 — page 1 of an
        empty result; any OTHER page of an empty result (and any page past
        the window) is ILLEGAL_PAGENUM, exactly the reference's
        ``(i | tot_pages) == 0`` then ``i >= tot_pages`` order."""
        i = page - 1
        tot_pages = (len(rows) + RES_PER_PAGE - 1) // RES_PER_PAGE
        if (i | tot_pages) == 0:
            return errcode_json(RET_NO_HIT)
        if i >= tot_pages:
            return errcode_json(RET_BAD_PAGE)
        lo = i * RES_PER_PAGE
        hits = [
            {
                "docid": int(r["doc_id"]),
                "score": round(float(r["score"]), 3),
                "title": r["title"],
                "url": r["url"],
                "snippet": r["snippet"],
            }
            for r in rows[lo : lo + RES_PER_PAGE]
        ]
        return {
            "ret_code": RET_SUCC,
            "ret_str": RET_STR[RET_SUCC],
            "tot_pages": tot_pages,
            "hits": hits,
        }

    @staticmethod
    def _page_window_reply(rows: list, page: int, total: int) -> dict:
        """`_page_reply` for PRE-WINDOWED rows: ``rows`` already hold only
        the requested page's hits (in rank order) and ``total`` is the full
        per-query hit count — same reference error-code order
        ((i | tot_pages) == 0 first, then i >= tot_pages)."""
        i = page - 1
        tot_pages = (total + RES_PER_PAGE - 1) // RES_PER_PAGE
        if (i | tot_pages) == 0:
            return errcode_json(RET_NO_HIT)
        if i >= tot_pages:
            return errcode_json(RET_BAD_PAGE)
        return {
            "ret_code": RET_SUCC,
            "ret_str": RET_STR[RET_SUCC],
            "tot_pages": tot_pages,
            "hits": [
                {
                    "docid": int(r["doc_id"]),
                    "score": round(float(r["score"]), 3),
                    "title": r["title"],
                    "url": r["url"],
                    "snippet": r["snippet"],
                }
                for r in rows[:RES_PER_PAGE]
            ],
        }

    def query_json(self, qtext: str, page: int = 1, mode: str = "or") -> dict:
        """The searchd response shape (searchd/utils.c:173-389): one page of
        RES_PER_PAGE hits with titles, urls and <em>-highlighted snippets."""
        terms, _, err = self._admit(qtext, page)
        if err is not None:
            return err
        res = self.query(qtext, mode=mode)
        rows = snippets_for(self.index, res, terms).collect()
        # mixed_search's broadcast-budget-overflow fallback tags its result
        # with the persisted per-tex frames (dedup.release protocol); free
        # them now that the page is materialized — a long-lived daemon must
        # not leak executor storage per overflowing math query
        from .operators.dedup import release

        release(res)
        return self._page_reply(rows, page)

    def query_json_many(self, requests: list[tuple[str, int, str]]) -> list[dict]:
        """Batched daemon replies: N ``(qtext, page, mode)`` requests in,
        N ``query_json``-shaped dicts out. The term requests of the batch
        are ranked together (``_rank_batch``: in the driver on a warmed
        engine, else one ``search_many`` plan), then one id-pruned docstore
        probe follows and each request's page of snippets renders
        driver-side (the searchd micro-batcher drains concurrent POSTs
        through here, so a warmed engine's batch costs at most two Spark
        jobs, whatever its size). Math-bearing requests fall back to the
        per-query mixed path; admission rejections are answered without
        touching Spark."""
        out: list[dict | None] = [None] * len(requests)
        queries: dict[str, tuple[str, str]] = {}
        qterms: dict[str, list[str]] = {}
        pending: dict[str, tuple[int, int]] = {}  # qid -> (req index, page)
        for i, (qtext, page, mode) in enumerate(requests):
            terms, texes, err = self._admit(qtext, page)
            if err is not None:
                out[i] = err
                continue
            if texes and self.math_postings is not None:
                out[i] = self.query_json(qtext, page=page, mode=mode)
                continue
            qid = f"q{i}"
            queries[qid] = (qtext, mode)
            qterms[qid] = terms
            pending[qid] = (i, page)
        if queries:
            from .plans.serve import sql_in

            # the rank set is bounded by design — at most MAX_BATCH drained
            # requests x the 155-deep rank window (search/config.h:29) — so
            # paging/tot_pages are in-process, exactly the reference
            # daemon's proc_results shape (searchd/utils.c:173-389 renders
            # its page on the serving node). Snippets render ONLY each
            # request's page window, not the 155-deep set.
            ranked = self._rank_batch(queries)
            totals = {qid: len(docs) for qid, (docs, _) in ranked.items()}
            page_rows = []  # (qid, doc_id, score), each qid's rows in rank order
            for qid, (_, page) in pending.items():
                if qid not in ranked:
                    continue
                docs, scores = ranked[qid]
                lo = (page - 1) * RES_PER_PAGE
                page_rows.extend(
                    (qid, int(d), float(sc))
                    for d, sc in zip(docs[lo: lo + RES_PER_PAGE], scores[lo: lo + RES_PER_PAGE])
                )
            # presentation is DRIVER work, like the reference daemon's
            # proc_results (searchd/utils.c:173-389) rendering its page on
            # the serving node: the page set is <= RES_PER_PAGE x N_clients
            # rows, so fetch their texts with one id-pruned docstore scan
            # and highlight in-process — a pandas-UDF render job for 320
            # rows costs ~1.2s of fixed stage overhead, the in-process
            # render ~0.05s (interleaved A/B, 400k docs x 32 clients).
            from .plans.snippet import render_snippet

            texts: dict[int, tuple] = {}
            if page_rows:
                ids = sorted({d for _, d, _ in page_rows})
                texts = {
                    int(r["doc_id"]): (r["url"], r["text"])
                    for r in self.index.docstore.where(sql_in("doc_id", ids))
                    .select("doc_id", "url", "text").collect()
                }
            by_qid: dict[str, list] = {}
            for qid, doc_id, score in page_rows:
                if doc_id not in texts:
                    # docstore-missing hit (inconsistent index): drop it and
                    # shrink the per-query total, approximating query_json's
                    # snippets_for inner join. Not byte-exact: the inner
                    # join drops BEFORE pagination (the next-ranked hit
                    # backfills the page) where this page comes up a row
                    # short — acceptable for a corrupt-index edge, vs
                    # rendering an empty-url/title hit as before
                    totals[qid] = max(0, totals.get(qid, 0) - 1)
                    continue
                url, text = texts[doc_id]
                text = text if isinstance(text, str) else ""
                snippet, _, _, _ = render_snippet(text, qterms.get(qid, []))
                by_qid.setdefault(qid, []).append(
                    {
                        "doc_id": doc_id,
                        "score": score,
                        "title": text.split("\n\n", 1)[0],
                        "url": url,
                        "snippet": snippet,
                    }
                )
            for qid, (i, page) in pending.items():
                out[i] = self._page_window_reply(
                    by_qid.get(qid, []), page, totals.get(qid, 0)
                )
        return out

    def _rank_batch(self, queries: dict[str, tuple[str, str]]) -> dict[str, tuple]:
        """qid -> (doc ids, scores) in (score DESC, doc_id ASC) order, at
        most RANK_K long; a qid without hits is absent.

        On a warmed engine the batch is scored IN THE DRIVER
        (plans/serve.driver_search): pooled terms from their decoded copy
        (``warm(budget)``; searchd warms with ``--cache-mb``), the rest
        with one Spark fetch, as long as those cold terms stay within the
        pool's bound. Without a pool, or past that bound, nothing keeps a
        fetched term small (the commonest terms reach docN postings), so
        the batch runs as one ``search_many`` plan, scored on the
        executors."""
        from .plans.serve import driver_search

        res = driver_search(self.index, queries)
        if res is not None:
            return {qid: (r[0], r[-1]) for qid, r in res.items()}
        from .plans.query import search_many

        rows = (
            search_many(self.spark, self.index, queries)
            .select("qid", "doc_id", "score")
            .collect()
        )
        ranked: dict[str, tuple] = {}
        for r in sorted(rows, key=lambda r: (r["qid"], -r["score"], r["doc_id"])):
            docs, scores = ranked.setdefault(r["qid"], ([], []))
            docs.append(r["doc_id"])
            scores.append(r["score"])
        return ranked
