"""Repository benchmark: one seeded run of one workload.

    python3 perfbench/run.py --workload batch|daemon --seed N --seconds S --trace 0|1

Run from the repository root. Every run is one process on ``local[4]``:
it writes a seeded Common-Crawl-style pages table (four Parquet files),
builds and saves the index from it with ``SearchEngine.build(with_math=True)``
+ ``save`` (a cold build, as ``indexer.out`` pays it), sets up the serving
side three times, then runs the workload's clients in a closed loop: a
warm-up of ``WARMUP_S``, then ``--seconds`` measured. Answers are checked
outside the timed region. The last stdout line is one JSON object
``{correct, attempted, failed, metrics}``; the line before it gives the
sample count of each reported timing.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` installs span
wrappers around the engine's public functions (perfbench/spans.py) and
reports per-layer metrics instead; the spans go to
``.perfbench_work/trace-<workload>-<seed>.json``.

Do not run it beside pytest or another benchmark: both want all 4 cores.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import socket
import statistics
import sys
import threading
import time
import urllib.request

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import spec  # noqa: E402

N_PAGES = 4000
PAGE_FILES = 4  # the pages table is split in files, as a crawl table is
CACHE_BUDGET = 1 << 20  # below the saved posting bytes: head terms hot, tail streams
SETUP_REPS = 3
CLIENTS = 4  # client threads of both workloads, closed loop
# (queries, prune) of each batch client's batches, by client parity: an
# exhaustive batch and a prune=True batch (WAND engages for <= 32 OR queries)
BATCHES = ((64, False), (32, True))
WARMUP_S = 1.0  # closed-loop traffic before the measured window
SEARCH_SAMPLE = 2  # per-query search() checks of batch answers
REPLY_SAMPLE = 1  # direct query_json checks of daemon replies
MATH_REQUESTS = 3  # mixed term+TeX requests of the traced daemon run
WATCHDOG_S = 170


# --------------------------------------------------------------- env ----
def prepare_env(work: str) -> None:
    for d in ("spark-local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    root = os.getcwd()
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["SPARK_GRAFT_CPUS"] = "4"
    os.environ["SPARK_DRIVER_MEMORY"] = "3g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    sys.path.insert(0, root)


def start_spark(work: str):
    from search_engine_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    spark = get_spark(
        "perfbench",
        master="local[4]",
        shuffle_partitions=8,
        extra_conf={
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def descendants(pid: int) -> set[int]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    out, todo = set(), [pid]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.add(k)
            todo.append(k)
    return out


def cpu_steal() -> tuple[int, int]:
    """(steal, total) jiffies of the host's CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v)


def rss_mb(pids) -> float:
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1])
        except (OSError, IndexError, ValueError):
            pass
    return total * os.sysconf("SC_PAGE_SIZE") / 2**20


class RssSampler(threading.Thread):
    """Peak resident memory of this process and every process it started."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak = 0.0
        self._halt = threading.Event()

    def run(self):
        me = os.getpid()
        while not self._halt.wait(0.5):
            self.peak = max(self.peak, rss_mb({me} | descendants(me)))

    def stop(self):
        self._halt.set()
        self.join()


def stop_all(spark) -> None:
    """Stop Spark, then wait until every process this run started has
    ended (the JVM and its Python workers)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    started = descendants(os.getpid())
    spark.stop()
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()
    deadline = time.time() + 20
    while time.time() < deadline:
        alive = [p for p in started if os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass


def hard_stop(code: int, why: str) -> None:
    """Kill every process this run started and exit without a result."""
    print(f"perfbench: {why}", file=sys.stderr, flush=True)
    for p in descendants(os.getpid()):
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass
    os._exit(code)


# ------------------------------------------------------------ phases ----
class Run:
    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.metrics: dict[str, float] = {}
        self.samples: dict[str, int] = {}
        self.tracer = None
        self.wrappers = None
        self.sent_terms: list[str] = []  # query-term occurrences sent while traced
        self.lock = threading.Lock()
        self.t0 = time.perf_counter()

    def log(self, what: str) -> None:
        print(f"perfbench: {time.perf_counter() - self.t0:7.2f}s {what}", file=sys.stderr, flush=True)

    def fail(self, what: str, n: int = 1) -> None:
        with self.lock:
            self.failed += n
            if len(self.problems) < 20:
                self.problems.append(what)

    def span(self, name: str):
        from contextlib import nullcontext

        return self.tracer.span(name) if self.tracer else nullcontext()

    # -- inputs + build -----------------------------------------------
    def write_pages(self) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        self.pages = gen.make_pages(self.args.seed, N_PAGES)
        self.pages_path = os.path.join(self.work, "pages")
        os.makedirs(self.pages_path)
        table = pa.table(
            {c: self.pages[c] for c in ("url", "warc_ts", "html", "text", "lang")},
            schema=pa.schema(
                [("url", pa.string()), ("warc_ts", pa.timestamp("us")),
                 ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string())]
            ),
        )
        step = -(-N_PAGES // PAGE_FILES)
        for i in range(PAGE_FILES):
            part = table.slice(i * step, step)
            pq.write_table(part, os.path.join(self.pages_path, f"part-{i:05d}.parquet"))
        self.input_bytes = table_bytes(self.work)[0]["pages"]

    def build(self, spark) -> None:
        """The cold build + save of the fixture index, and its size."""
        from search_engine_spark.engine import SearchEngine
        from search_engine_spark.sources.tables import read_table

        self.index_path = os.path.join(self.work, "index")
        t0 = time.perf_counter()
        with self.span("sources.scan"):
            pages = read_table(spark, self.pages_path)
        eng = SearchEngine.build(spark, pages, with_math=True)
        with self.span("build.save"):
            eng.save(self.index_path)
        build_s = time.perf_counter() - t0
        self.build_wall = (t0, time.perf_counter())
        spark.catalog.clearCache()
        self.metrics["build_docs_per_s"] = N_PAGES / build_s
        sizes, self.index_files = table_bytes(self.index_path)
        self.index_sizes = sizes
        self.metrics["index_bytes_per_input_byte"] = sum(sizes.values()) / self.input_bytes

    def check_build(self, idx) -> None:
        """The loaded index's docN and len_sum equal the generator's counts."""
        self.attempted += 1
        want = self.pages["expect"]
        got = {"docN": idx.docN, "len_sum": idx.len_sum}
        if got != want:
            self.fail(f"build: loaded {got} != generated {want}")

    def setup(self, once):
        """``setup_s``: the median of SETUP_REPS set-ups; returns the last."""
        times = []
        for _ in range(SETUP_REPS):
            self.spark.catalog.clearCache()
            t0 = time.perf_counter()
            out = once()
            times.append(time.perf_counter() - t0)
        self.log(f"set up {SETUP_REPS} times")
        self.metrics["setup_s"] = statistics.median(times)
        self.samples["setup_s"] = len(times)
        return out

    # -- batch --------------------------------------------------------
    def batch(self, spark) -> None:
        from search_engine_spark.plans.build import load_index
        from search_engine_spark.plans.query import search, search_many

        probe = {"p": (str(gen.vocab()[1]), "or")}

        def load():  # load_index (no posting pool) plus a first one-query batch
            with self.span("build.load"):
                idx = load_index(spark, self.index_path)
            search_many(spark, idx, probe).collect()
            return idx

        idx = self.setup(load)
        self.check_build(idx)
        log = gen.make_queries(self.args.seed, 8192)
        kept = {}  # prune flag -> the first (queries, rows) of that kind

        def op(client, k, i):
            n, prune = BATCHES[client % len(BATCHES)]
            qs = {f"q{i}.{j}": log[(i * BATCHES[0][0] + j) % len(log)] for j in range(n)}
            with self.span("batch.op"):
                df = search_many(spark, idx, qs, prune=prune)
                with self.span("serve.kernel"):
                    rows = df.collect()
            kept.setdefault(prune, (qs, rows))
            return n

        self.closed_loop(op)

        # checks, outside the timed region
        qs, rows = kept[True]
        ref = search_many(spark, idx, qs, prune=False).collect()
        self.attempted += 1
        if ranked(rows) != ranked(ref):
            self.fail("batch: prune=True rows differ from exhaustive rows")
        qs, rows = kept[False]
        got = ranked(rows)
        rng = random.Random(self.args.seed)
        for qid in rng.sample(sorted(qs), SEARCH_SAMPLE):
            qtext, mode = qs[qid]
            one = search(spark, idx, qtext, mode=mode).collect()
            self.attempted += 1
            want = [(r["doc_id"], round(r["score"], 9)) for r in one]
            if got.get(qid, []) != want:
                self.fail(f"batch: search_many answer for {qtext!r}/{mode} != search()")

    # -- daemon -------------------------------------------------------
    def daemon(self, spark) -> None:
        from search_engine_spark import searchd
        from search_engine_spark.engine import SearchEngine

        def load():
            with self.span("build.load"):
                eng = SearchEngine.load(spark, self.index_path)
            return eng.warm(CACHE_BUDGET)

        eng = self.setup(load)
        self.check_build(eng.index)
        with socket.socket() as s:
            s.bind(("127.0.0.1", 0))
            port = s.getsockname()[1]
        srv = searchd.serve(eng, port=port, block=False)
        url = f"http://127.0.0.1:{port}/search"
        try:
            self.traffic(url, eng)
        finally:
            srv.shutdown()
            srv.server_close()

    def traffic(self, url: str, eng) -> None:
        from search_engine_spark.searchd import keywords_to_qtext

        for payload, code in gen.reject_requests(self.args.seed):
            self.attempted += 1
            try:
                out = post(url, payload)
            except Exception as e:
                self.fail(f"daemon reject: {type(e).__name__}: {e}")
                continue
            if out.get("ret_code") != code:
                self.fail(f"daemon reject: ret_code {out.get('ret_code')} != {code}")
        reqs = gen.daemon_requests(self.args.seed, 4000)
        replies = []

        def op(client, k, i):
            payload = reqs[i % len(reqs)]
            out = post(url, payload)
            if out.get("ret_code") == gen.RET_WINDOW_ERR:
                raise RuntimeError("RET_WINDOW_ERR")
            with self.lock:
                if len(replies) < 64:
                    replies.append((payload, out))
                if self.tracer is not None and self.tracer.enabled:
                    self.sent_terms += payload["kw"][0]["str"].split()
            return 1

        # rounds: 4 requests at once, so the daemon's micro-batcher sees the
        # same arrivals every round; free-running clients drift into split
        # batches that halve throughput for the rest of a run
        self.closed_loop(op, rounds=True)

        math = []
        if self.tracer:
            # math_search layers: a short single-client phase of mixed
            # term+TeX requests, traced run only (each costs seconds)
            self.tracer.enabled = True
            for payload in gen.math_requests(self.args.seed, MATH_REQUESTS, self.pages["tex"]):
                self.attempted += 1
                try:
                    out = post(url, payload)
                except Exception as e:
                    self.fail(f"daemon math: {type(e).__name__}: {e}")
                    continue
                if out.get("ret_code") == gen.RET_WINDOW_ERR:
                    self.fail("daemon math: RET_WINDOW_ERR")
                math.append((payload, out))
            self.tracer.enabled = False

        rng = random.Random(self.args.seed)
        sample = rng.sample(replies, min(REPLY_SAMPLE, len(replies)))
        for payload, out in sample + math[:1]:
            want = eng.query_json(keywords_to_qtext(payload["kw"]), page=payload["page"])
            self.attempted += 1
            if out != want:
                self.fail(f"daemon: reply for {payload} != query_json")

    # -- the closed loop ----------------------------------------------
    def closed_loop(self, op, rounds: bool = False) -> None:
        """CLIENTS threads; each starts its next operation when its last one
        returns. ``op(client, k, i)`` runs the client's k-th operation (the
        i-th of the run) and returns the number of queries it answered.
        With ``rounds`` the clients also wait for each other: every round
        sends CLIENTS operations at once and ends when all have returned.

        Phases: a warm-up of WARMUP_S, then the measured window of
        ``--seconds``, which gives ``qps`` from the operations started in
        it: the sum over clients of each one's queries / its operations'
        summed time, where an operation's time ends when its client may
        start the next one. A closed-loop client is always in an operation,
        so this is the loop's throughput, without the error of cutting the
        window at operation boundaries, and with each client's own mix. Untraced, the window is one phase. Traced,
        it is four quarters with tracing off / on / off / on, which also
        measures what tracing costs. A phase lasts until at least one
        operation started in it has ended."""
        n = 4 if self.tracer else 1
        plan = [("warm", WARMUP_S, 0)] + [(i % 2 == 1, self.args.seconds / n, 1) for i in range(n)]
        state = {"phase": None, "next": 0, "round": None}
        done: dict = {ph: [] for ph, _, _ in plan}  # phase -> [(client, seconds, queries)]
        cond = threading.Condition(self.lock)

        def start_round():  # runs once per round, before any client goes on
            state["round"] = state["phase"]

        barrier = threading.Barrier(CLIENTS, action=start_round) if rounds else None

        def record(ph, c, dt, queries):
            with cond:
                done[ph].append((c, dt, queries))
                cond.notify_all()

        def client(c):
            k, last = 0, None  # last: (phase, start, queries) of a round's operation
            while True:
                if barrier is not None:
                    try:
                        barrier.wait()
                    except threading.BrokenBarrierError:
                        return
                    if last is not None:
                        record(last[0], c, time.perf_counter() - last[1], last[2])
                with cond:
                    ph = state["round"] if barrier is not None else state["phase"]
                    if ph is None:
                        return
                    i = state["next"]
                    state["next"] += 1
                    self.attempted += 1
                t0 = time.perf_counter()
                try:
                    queries = op(c, k, i)
                except Exception as e:  # an engine or HTTP error fails the operation
                    self.fail(f"{self.args.workload}: {type(e).__name__}: {e}")
                    queries = None
                if barrier is not None:
                    last = (ph, t0, queries)
                else:
                    record(ph, c, time.perf_counter() - t0, queries)
                k += 1

        # daemon threads: a run stopped by the watchdog or a signal must not
        # wait for a client blocked in an operation
        threads = [threading.Thread(target=client, args=(c,), daemon=True) for c in range(CLIENTS)]
        windows = []
        with cond:
            state["phase"] = "warm"
        try:
            for th in threads:
                th.start()
            for ph, length, need in plan:
                with cond:
                    state["phase"] = ph
                    if self.tracer is not None:
                        self.tracer.enabled = ph is True
                t0 = time.perf_counter()
                time.sleep(length)
                with cond:
                    cond.wait_for(lambda: len(done[ph]) >= need)
                windows.append((ph, t0, time.perf_counter()))
                self.log(f"phase {ph} done")
        finally:
            with cond:
                state["phase"] = None
                if self.tracer is not None:
                    self.tracer.enabled = False
        for th in threads:
            th.join()

        measured = {ph for ph, _, _ in plan[1:]}
        ops = [x for ph in measured for x in done[ph] if x[2] is not None]
        self.metrics["qps"] = sum(
            sum(q for c2, _, q in ops if c2 == c) / sum(dt for c2, dt, _ in ops if c2 == c)
            for c in {c for c, _, _ in ops}
        )
        self.samples["qps"] = len(ops)
        if self.tracer is not None:
            mean = {on: statistics.fmean(dt for _, dt, q in done[on] if q is not None) for on in (False, True)}
            self.overhead_pct = (mean[True] / mean[False] - 1.0) * 100.0
            self.traced_windows = [(a, b) for ph, a, b in windows if ph is True]


def table_bytes(path: str) -> tuple[dict[str, int], int]:
    """Bytes per saved table, and the number of files written."""
    out, n_files = {}, 0
    for table in sorted(os.listdir(path)):
        total = 0
        for d, _, files in os.walk(os.path.join(path, table)):
            total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
            n_files += len(files)
        out[table] = total
    return out, n_files


def ranked(rows) -> dict[str, list]:
    out: dict[str, list] = {}
    for r in sorted(rows, key=lambda r: (r["qid"], -r["score"], r["doc_id"])):
        out.setdefault(r["qid"], []).append((r["doc_id"], round(r["score"], 9)))
    return out


def post(url: str, payload: dict) -> dict:
    req = urllib.request.Request(
        url, data=json.dumps(payload).encode(), headers={"Content-Type": "application/json"}
    )
    with urllib.request.urlopen(req, timeout=60) as r:
        if r.status != 200:
            raise RuntimeError(f"HTTP {r.status}")
        return json.loads(r.read())


# -------------------------------------------------------------- main ----
def main() -> int:
    bench = spec.benchmark()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir("search_engine_spark"):
        print("perfbench: run from the repository root (search_engine_spark/ not found)",
              file=sys.stderr)
        return 2

    # Hard stops from threads of their own: a Python signal handler runs
    # only when the main thread is back from its blocked Spark call, but
    # the signal's number reaches the wakeup fd at once.
    watchdog = threading.Timer(WATCHDOG_S, hard_stop, (124, f"run exceeded {WATCHDOG_S}s"))
    watchdog.daemon = True
    watchdog.start()
    wake_r, wake_w = os.pipe()
    os.set_blocking(wake_w, False)
    signal.set_wakeup_fd(wake_w)
    for sig in (signal.SIGTERM, signal.SIGINT):
        signal.signal(sig, lambda *_: None)

    def on_signal():
        while os.read(wake_r, 1)[0] not in (signal.SIGTERM, signal.SIGINT):
            pass
        hard_stop(143, "terminated")

    threading.Thread(target=on_signal, daemon=True).start()
    base = os.path.join(os.getcwd(), ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    prepare_env(work)
    run = Run(args, work)
    rss = RssSampler()
    rss.start()
    steal0 = cpu_steal()
    spark = None
    try:
        run.write_pages()
        run.log("pages written")
        t0 = time.perf_counter()
        spark = run.spark = start_spark(work)
        session_s = time.perf_counter() - t0
        run.log("session started")
        if args.trace:
            import spans

            run.tracer = spans.Tracer(spark)
            run.wrappers = spans.Wrappers(run.tracer)
            run.wrappers.install()
            run.tracer.enabled = True
        run.build(spark)
        run.log("index built and saved")
        getattr(run, args.workload)(spark)
        run.log("workload done")
        if args.trace:
            import layers

            run.tracer.enabled = False
            run.wrappers.uninstall()
            layers.report(run, spark, session_s, os.path.join(base, f"trace-{args.workload}-{args.seed}.json"))
    finally:
        watchdog.cancel()
        rss.stop()
        if spark is not None:
            stop_all(spark)
        shutil.rmtree(work, ignore_errors=True)
    run.metrics["peak_rss_mb"] = rss.peak
    run.log("stopped")
    for p in run.problems:
        print(f"perfbench: {p}", file=sys.stderr)
    names = bench["per_layer"] if args.trace else bench["end_to_end"]
    metrics = {m["name"]: {"value": run.metrics[m["name"]], "unit": m["unit"]} for m in names}
    steal1 = cpu_steal()
    # not a metric: CPU time the host gave to other guests during the run,
    # to tell a noisy host from a slow program
    steal_pct = 100.0 * (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])
    print(json.dumps({"samples": run.samples, "host_steal_pct": round(steal_pct, 2)}))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
