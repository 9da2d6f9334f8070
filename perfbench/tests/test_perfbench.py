"""Self-tests of the benchmark.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider

Run from the repository root, never beside another Spark job. The
end-to-end output test starts the benchmark four times (~5 minutes).
"""

from __future__ import annotations

import io
import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import spec  # noqa: E402


# ------------------------------------------------------------ generator --
def _parquet_bytes(pages: dict) -> bytes:
    import pyarrow as pa
    import pyarrow.parquet as pq

    buf = io.BytesIO()
    pq.write_table(pa.table({c: pages[c] for c in ("url", "warc_ts", "html", "text", "lang")}), buf)
    return buf.getvalue()


def test_same_seed_same_inputs():
    a, b = gen.make_pages(7, 500), gen.make_pages(7, 500)
    assert _parquet_bytes(a) == _parquet_bytes(b)
    assert a["expect"] == b["expect"] and a["tex"] == b["tex"]
    assert gen.make_queries(7, 300) == gen.make_queries(7, 300)
    assert gen.daemon_requests(7, 300) == gen.daemon_requests(7, 300)
    assert gen.math_requests(7, 50, a["tex"]) == gen.math_requests(7, 50, b["tex"])
    assert gen.reject_requests(7) == gen.reject_requests(7)
    assert _parquet_bytes(gen.make_pages(8, 500)) != _parquet_bytes(a)
    assert gen.make_queries(8, 300) != gen.make_queries(7, 300)


def test_corpus_properties():
    from search_engine_spark.functions.tokenizer import tokenize_text

    pages = gen.make_pages(3, 4000)
    texts = pages["text"]
    toks = [tokenize_text(t) for t in texts]
    assert sum(map(len, toks)) == pages["expect"]["len_sum"]
    assert pages["expect"]["docN"] == len(texts) == len(set(pages["url"]))
    assert sum(gen.COMMON_TERM in t for t in toks) > len(texts) / 2  # negative idf
    assert toks[0].count(gen.CAP_TERM) > 2048  # tf cap
    assert texts[1] == texts[2] and pages["url"][1] != pages["url"][2]
    assert 0.01 < sum(t == "" for t in texts) / len(texts) < 0.03
    assert 0.08 < sum("[imath]" in t for t in texts) / len(texts) < 0.12
    words = set(gen.vocab())
    terms = [w for q, _ in gen.make_queries(3, 2000) for w in q.split()]
    assert 0.02 < sum(w not in words for w in terms) / len(terms) < 0.08
    modes = [m for _, m in gen.make_queries(3, 2000)]
    assert 0.2 < modes.count("and") / len(modes) < 0.3
    pages_of = [r["page"] for r in gen.daemon_requests(3, 2000)]
    assert 0.75 < pages_of.count(1) / len(pages_of) < 0.85


def test_math_requests_cover_exact_variant_and_nomatch():
    corpus = gen.make_pages(5, 2000)["tex"]
    texes = [r["kw"][1]["str"] for r in gen.math_requests(5, 300, corpus)]
    exact = sum(t in corpus for t in texes)
    nomatch = sum(t in gen.NOMATCH_TEX for t in texes)
    assert exact and nomatch and len(texes) - exact - nomatch


# ------------------------------------------------------------ the spec ---
def test_layer_map_matches_benchmark_json():
    doc = spec.benchmark()
    assert [m["name"] for m in doc["per_layer"]] == list(spec.LAYER_MAP)
    e2e = {m["name"]: m for m in doc["end_to_end"]}
    workloads = {w["name"] for w in doc["workloads"]}
    for name, (moves, crossed) in spec.LAYER_MAP.items():
        assert moves in e2e or moves == "none", name
        assert set(crossed) <= workloads, name
    bounds = {k: m["bound"] for k, m in e2e.items()}
    assert bounds["setup_s"] == max(bounds.values()) <= 0.25
    assert e2e["setup_s"]["unit"] == "s" and e2e["setup_s"]["better"] == "lower"


# ---------------------------------------------------------------- oracle --
@pytest.fixture(scope="module")
def spark():
    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT, os.environ.get("PYTHONPATH", "")])
    from search_engine_spark.session import get_spark

    s = get_spark("perfbench-tests", master="local[2]", shuffle_partitions=4)
    yield s
    s.stop()


def test_search_many_matches_oracle(spark):
    import pandas as pd

    from search_engine_spark.engine import SearchEngine
    from search_engine_spark.oracle import naive_search
    from search_engine_spark.plans.query import search_many

    pages = gen.make_pages(11, 300)
    frame = pd.DataFrame({c: pages[c] for c in ("url", "warc_ts", "html", "text", "lang")})
    eng = SearchEngine.build(spark, spark.createDataFrame(frame))
    docs = [(r["doc_id"], r["text"]) for r in eng.index.docstore.collect()]
    queries = {f"q{i}": q for i, q in enumerate(gen.make_queries(11, 40))}
    queries["q_negative_idf"] = (f"{gen.COMMON_TERM} {gen.vocab()[3]}", "or")
    queries["q_tf_cap"] = (gen.CAP_TERM, "or")
    rows = search_many(spark, eng.index, queries).collect()
    got: dict[str, list] = {}
    for r in sorted(rows, key=lambda r: (r["qid"], r["rank"])):
        got.setdefault(r["qid"], []).append((r["doc_id"], r["score"]))
    for qid, (qtext, mode) in queries.items():
        want = naive_search(docs, qtext, mode=mode)
        have = got.get(qid, [])
        assert [d for d, _ in have] == [d for d, _ in want], (qid, qtext, mode)
        for (_, a), (_, b) in zip(have, want):
            assert a == pytest.approx(b, rel=1e-4), (qid, qtext)


# --------------------------------------------------- the printed result --
@pytest.mark.parametrize("workload", [w["name"] for w in spec.benchmark()["workloads"]])
@pytest.mark.parametrize("trace", [0, 1])
def test_every_metric_printed_with_unit(workload, trace):
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "5",
         "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    names = spec.benchmark()["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {m["name"]: m["unit"] for m in names}
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())
