"""graphiti_spark benchmark.

    python3 perfbench/run.py --workload {batch,store} --seed N --seconds S --trace {0,1}

Runs one workload on ``local[4]`` from one driver process, checks every
output, and prints as its last stdout line one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. Runs from any working
directory: the program is the ``graphiti_spark`` package next to this
directory, and everything the run writes stays under ``<repo>/.perfbench``.
A run leaves its inputs and stores in ``.perfbench/<workload>-<seed>-<pid>``
(unlinking files that already reached the disk costs seconds per run on
file systems mounted with ``discard``); ``.perfbench/cache`` keeps the
expected output hashes and DuckDB results per seed.

Workloads (inputs come from ``gen.py`` and depend only on ``--seed``):

- ``batch``: ``build_graph`` over a generated ``documents`` corpus read
  through ``synth_source_files``, materialized with no store, one cold
  pass and then at least two timed ones for ``--seconds``; between them,
  one pass over ten analytics leaves of ``bench.py``'s suite
  (leaves.py) over a smaller graph and seeded
  ``documents``/``embeddings``/``events`` tables. Each leaf runs once, so
  its time includes its first-call costs.
- ``store``: a one-client closed loop of ``GraphitiSpark.search`` over a
  ``GraphStore`` seeded in set-up, for ``--seconds``; then
  ``add_episode_bulk`` of one batch of new files into a copy of that store.

End-to-end metrics (``--trace 0``; every workload reports each one):

- ``setup_s``: all untimed preparation: process start to the first timed
  operation (session, Python-worker prewarm, input generation, store
  seeding, one cold iteration) plus the set-up between timed phases.
- ``write_files_per_s``: source files per second through the write side:
  ``build_graph`` on ``batch``, ``add_episode_bulk`` on ``store``.
- ``read_p50_s``: median wall time of one read: an analytics leaf on
  ``batch``, a search call with every result row collected on ``store``.
  A run has too few reads for a tail percentile (ten leaves of very
  different cost; at least three searches of one query); the median
  keeps one read slowed by a busy host from moving the figure.
- ``peak_rss_mb``: summed peak RSS (VmHWM) of the driver process tree: this
  Python process, the JVM and the Python workers.

Failed or wrong operations are the ``failed`` count of the result line
(the error rate is ``failed / attempted``).

``--trace 1`` wraps each layer's public functions in spans (spans.py), tags
their Spark jobs with a job group, writes a plain event log and folds it
(digest.py) into per-layer metrics. To charge each construction stage its
own jobs, it also persists and materializes the stages' outputs inside
their spans, which the untraced run does not do. It checks that the work
lands in the layers this workload is meant to stress. Its ``traced.*``
metrics are the end-to-end metrics measured with tracing on: minus the
same metrics of an untraced run of the same seed, they give the tracing
overhead; ``trace.overhead_s`` is the part spent opening and closing spans.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = 4
# driver heap, allocated up front: a heap that grows resizes at different
# moments from run to run, which spread the construct timings
HEAP = "3g"

# batch: construct corpus and the analytics tables (see CHANGES.md for the
# measured pass times and their fixed per-pass share)
CONSTRUCT_FILES = 6_000
ANALYTICS_DOCS, ANALYTICS_EMB, ANALYTICS_EVENTS = 250, 250, 1000
CONSTRUCT_MIN_PASSES = 2  # timed passes after the cold one; the median is reported
# store: seed batch, then one ingest batch of new files
STORE_SEED_FILES, INGEST_FILES = 24, 40
STORE_REPOS = 8  # repositories besides the mega-repo: buckets an ingest touches
SEARCH_MIN_QUERIES = 3  # timed searches; the median is reported
ORACLE_GROUPS = 2  # construct check: repos compared with DuckDB per run
# analytics check: oracle-backed leaves run again per run, each compared
# with DuckDB and with its own hash from the timed pass
ORACLE_LEAVES = 1
# leaves whose output equals the DuckDB oracle of the same name
ORACLE_LEAF_NAMES = (
    "kg_interval_census", "sr_mixing", "kg_path_match", "sr_conductance",
)

E2E = {
    "setup_s": "s", "write_files_per_s": "files/s", "read_p50_s": "s", "peak_rss_mb": "MB",
}


def _process_age_s() -> float:
    """Seconds between this process's start and T0 (interpreter start-up)."""
    try:
        with open("/proc/self/stat") as f:
            start = int(f.read().rsplit(")", 1)[1].split()[19]) / os.sysconf("SC_CLK_TCK")
        with open("/proc/uptime") as f:
            up = float(f.read().split()[0])
        return max(up - start - (time.perf_counter() - T0), 0.0)
    except (OSError, ValueError, IndexError):
        return 0.0


def _tree_pids(root_pid: int) -> list[int]:
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            pass
    out, todo = [], [root_pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(c for c, pp in parent.items() if pp == p)
    return out


def peak_rss_mb() -> float:
    total = 0
    for pid in _tree_pids(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            pass
    return total / 1024.0


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def end_processes(pids: list[int], grace_s: float = 10.0) -> None:
    """SIGTERM, then SIGKILL, each of ``pids`` still running, and wait until
    every one has ended."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for p in pids:
            with contextlib.suppress(ProcessLookupError):
                os.kill(p, sig)
        deadline = time.monotonic() + grace_s
        while pids and time.monotonic() < deadline:
            pids = [p for p in pids if _alive(p)]
            time.sleep(0.02)
        if not pids:
            return


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def file_sha(paths: list[str]) -> str:
    h = hashlib.sha256()
    for p in sorted(paths):
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


class Run:
    """State of one benchmark run: session, timing windows, checks."""

    def __init__(self, args):
        self.args = args
        self.seed = args.seed
        self.seconds = args.seconds
        self.work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
        self.cache_dir = os.path.join(ROOT, ".perfbench", "cache")
        self.tracer = None
        self.spark = None
        self.setup_s = _process_age_s()
        self._setup_since: float | None = T0  # set-up clock, None while stopped
        # timed phase -> its (start, end) windows, epoch seconds
        self.phases: dict[str, list[tuple[float, float]]] = {}
        self.extra: dict[str, float] = {}
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.cache: dict = {}
        self.cache_path = None

    # ---- phases -----------------------------------------------------
    def log(self, what: str) -> None:
        print(f"perfbench {time.perf_counter() - T0:7.2f}s {what}", file=sys.stderr, flush=True)

    def _stop_setup_clock(self) -> bool:
        if self._setup_since is None:
            return False
        self.setup_s += time.perf_counter() - self._setup_since
        self._setup_since = None
        return True

    @contextlib.contextmanager
    def timed(self, what: str):
        """A timed phase. Whatever runs outside timed phases and checks is
        set-up and counts in ``setup_s``."""
        self._stop_setup_clock()
        self.log(f"timed: {what}")
        w0 = time.time()
        try:
            yield
        finally:
            self.phases.setdefault(what, []).append((w0, time.time()))
            self._setup_since = time.perf_counter()
            self.log(f"done: {what}")

    @contextlib.contextmanager
    def untimed_check(self, what: str):
        """An output check: counted in no metric."""
        was_setup = self._stop_setup_clock()
        self.log(f"check: {what}")
        try:
            yield
        finally:
            if was_setup:
                self._setup_since = time.perf_counter()

    def span(self, layer: str, name: str):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(layer, name)

    # ---- outcomes ---------------------------------------------------
    def op(self, name: str, fn):
        """One timed operation; returns (seconds, result or None)."""
        self.attempted += 1
        t = time.perf_counter()
        try:
            out = fn()
        except Exception as e:  # a failing operation counts, the run goes on
            self.failed += 1
            self.problems.append(f"{name}: {type(e).__name__}: {e}"[:300])
            return time.perf_counter() - t, None
        return time.perf_counter() - t, out

    def expect(self, key: str, value, what: str) -> bool:
        """Compare ``value`` with the value the same inputs produced before,
        in this run or an earlier one."""
        value = json.loads(json.dumps(value))
        seen = self.cache.setdefault(key, value)
        if seen != value:
            self.problems.append(f"{what}: {value} != earlier {seen}")
            return False
        return True

    def load_cache(self, inputs_sha: str) -> None:
        os.makedirs(self.cache_dir, exist_ok=True)
        self.cache_path = os.path.join(self.cache_dir, f"{self.args.workload}-{inputs_sha}.json")
        try:
            with open(self.cache_path) as f:
                self.cache = json.load(f)
        except (OSError, ValueError):
            self.cache = {}

    def save_cache(self) -> None:
        if self.cache_path and not self.problems:
            tmp = self.cache_path + f".{os.getpid()}"
            with open(tmp, "w") as f:
                json.dump(self.cache, f, sort_keys=True)
            os.replace(tmp, self.cache_path)

    # ---- session ----------------------------------------------------
    def start(self):
        os.makedirs(os.path.join(self.work, "tmp"), exist_ok=True)
        os.environ["PYTHONPATH"] = os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
        os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "spark-local")
        os.environ["TMPDIR"] = os.path.join(self.work, "tmp")
        conf = {
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Xms{HEAP} -Djava.io.tmpdir={self.work}/tmp -Dderby.system.home={self.work}/tmp",
        }
        if self.args.trace:
            from spans import Tracer, install

            self.eventlog_dir = os.path.join(self.work, "eventlog")
            os.makedirs(self.eventlog_dir)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.eventlog_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                # the digest needs job starts and task ends; the SQL plan
                # events are megabytes each and would dwarf them
                "spark.eventLog.excludedPatterns": ",".join(
                    ["SparkListenerTaskStart"] + [
                        f"org.apache.spark.sql.execution.ui.SparkListenerSQL{e}"
                        for e in ("ExecutionStart", "AdaptiveExecutionUpdate",
                                  "AdaptiveSQLMetricUpdates")]),
                "spark.eventLog.includeTaskMetricsAccumulators": "false",
            })
            self.tracer = Tracer()
            install(self.tracer)
        session = __import__("graphiti_spark.session", fromlist=["get_spark"])
        self.spark = session.get_spark(
            "perfbench", master=f"local[{CORES}]", extra_conf=conf, prewarm=False)
        self.spark.sparkContext.setLogLevel("ERROR")
        session.prewarm_python_workers(self.spark)
        self.log("session up")
        return self.spark

    def stop(self) -> None:
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.log("stopping")
        # the JVM's Python workers outlive it for up to minutes, holding
        # this process's stdout open; note them to end them below
        children = [p for p in _tree_pids(os.getpid()) if p != os.getpid()]
        self.spark.stop()
        self.log("spark stopped")
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                with contextlib.suppress(Exception):
                    proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
        self.spark = None
        end_processes(children)
        self.log("jvm and workers stopped")


# ---- output hashing --------------------------------------------------

def _canon(col, dtype):
    """A hashable, run-stable rendering of one column: doubles rounded to
    6 decimals, arrays sorted, maps as sorted entry arrays; nested elements
    are hashed to one long each before sorting."""
    from pyspark.sql import functions as F, types as T

    if isinstance(dtype, (T.DoubleType, T.FloatType)):
        return F.round(col.cast("double"), 6)
    if isinstance(dtype, T.DecimalType):
        return col.cast("string")
    if isinstance(dtype, T.MapType):
        entry = T.StructType([T.StructField("key", dtype.keyType),
                              T.StructField("value", dtype.valueType)])
        return _canon(F.map_entries(col), T.ArrayType(entry))
    if isinstance(dtype, T.ArrayType):
        inner = F.transform(col, lambda x: _canon(x, dtype.elementType))
        if isinstance(dtype.elementType, (T.MapType, T.StructType, T.ArrayType)):
            inner = F.transform(inner, lambda x: F.xxhash64(x))
        return F.array_sort(inner)
    if isinstance(dtype, T.StructType):
        return F.struct(*[_canon(col[f.name], f.dataType).alias(f.name) for f in dtype.fields])
    return col


def checksum(df) -> list[int]:
    """Materialize every column of ``df`` in one job and return
    [row count, order-insensitive hash of the rows]."""
    from pyspark.sql import functions as F

    cols = [_canon(F.col(f"`{f.name}`"), f.dataType) for f in df.schema.fields]
    h = F.xxhash64(*cols) if cols else F.lit(0)
    row = df.select(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(F.pmod(h, F.lit(2_147_483_647))), F.lit(0)).alias("s"),
        F.coalesce(F.bit_xor(h), F.lit(0)).alias("x"),
    ).collect()[0]
    return [int(row["n"]), int(row["s"]), int(row["x"])]


def value_hash(rows, cols) -> str:
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from compare_oracle import value_hash as vh

    return vh(rows, cols)


def duck_rows(run: Run, key: str, tables: dict[str, str], sql: str) -> list:
    """[row count, value hash] of a DuckDB oracle query, cached per seed."""
    if key in run.cache:
        return run.cache[key]
    import duckdb

    con = duckdb.connect()
    for name, path in tables.items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    res = con.execute(sql)
    cols = [d[0] for d in res.description]
    rows = res.fetchall()
    con.close()
    run.cache[key] = [len(rows), value_hash(rows, cols)]
    return run.cache[key]


def spark_rows(df) -> list:
    rows = [tuple(r) for r in df.collect()]
    return [len(rows), value_hash(rows, df.columns)]


def repo_of(doc_id: int) -> str:
    """The repository the source-file template assigns to a document."""
    if doc_id % 5 == 0:
        return "megacorp/monorepo"
    return f"org{doc_id % 7}/repo{doc_id % 13}"


# ---- workloads ---------------------------------------------------------

def workload_batch(run: Run) -> dict[str, float]:
    import numpy as np
    from pyspark.sql import functions as F

    import gen
    import leaves

    spark = run.start()
    pipeline, sources, oracles = (__import__(f"graphiti_spark.{m}", fromlist=["_"])
                                  for m in ("plans.pipeline", "sources.source_files", "oracles"))
    cdir, adir = os.path.join(run.work, "construct"), os.path.join(run.work, "analytics")
    cdocs = gen.documents(run.seed, CONSTRUCT_FILES)
    gen.write(cdocs, gen.DOC_SCHEMA, f"{cdir}/documents.parquet")
    gen.write(gen.documents(run.seed + 7919, ANALYTICS_DOCS),
              gen.DOC_SCHEMA, f"{adir}/documents.parquet")
    gen.write(gen.embeddings(run.seed, ANALYTICS_EMB), gen.EMB_SCHEMA, f"{adir}/embeddings.parquet")
    gen.write(gen.events(run.seed, ANALYTICS_EVENTS), gen.EVENT_SCHEMA, f"{adir}/events.parquet")
    run.load_cache(file_sha([f"{cdir}/documents.parquet"] + [
        f"{adir}/{t}.parquet" for t in ("documents", "embeddings", "events")]))
    run.log("inputs written")

    def construct(keep: bool = False):
        with run.span("plans.pipeline", "construct"):
            g = pipeline.build_graph(sources.synth_source_files(spark, cdir))
            if keep:
                g.nodes, g.edges = g.nodes.persist(), g.edges.persist()
            return g, [checksum(g.nodes), checksum(g.edges), checksum(g.mentions)]

    def construct_pass(keep: bool = False):
        dt, out = run.op("construct", lambda: construct(keep))
        if out is not None and not run.expect("construct", out[1], "construct output"):
            run.failed += 1
        if not keep:
            with run.untimed_check("clear cache"):
                spark.catalog.clearCache()
        return dt, out

    # cold iteration at full size (the process's first build_graph, and the
    # first pass runs slower), kept in memory for the DuckDB check; the
    # timed passes must hash the same
    _, out = construct_pass(keep=True)
    with run.untimed_check("construct vs DuckDB"):
        # the current triples of a few seeded repositories; the pipeline is
        # group-local, so their rows follow from their own documents alone
        rng = np.random.default_rng(run.seed)
        repos = sorted({repo_of(int(i)) for i in cdocs.doc_id} - {"megacorp/monorepo"})
        pick = sorted(rng.choice(repos, size=ORACLE_GROUPS, replace=False).tolist())
        sub = cdocs[[repo_of(int(i)) in pick for i in cdocs.doc_id]]
        gen.write(sub, gen.DOC_SCHEMA, f"{run.work}/oracle/documents.parquet")
        want = duck_rows(run, "duck:kg_current_triples:" + ",".join(pick),
                         {"documents": f"{run.work}/oracle/documents.parquet"},
                         oracles.kg_oracles("documents")["kg_current_triples"])
        if out is not None:
            got = spark_rows(pipeline.current_triples(out[0]).where(F.col("group_id").isin(pick)))
            if got != want:
                run.failed += 1
                run.problems.append(f"construct current_triples {got} != DuckDB {want}")
        spark.catalog.clearCache()

    # the analytics graph, materialized once like bench.py does
    ag = pipeline.build_graph(sources.synth_source_files(spark, adir))
    ag.nodes, ag.edges = ag.nodes.persist(), ag.edges.persist()
    ag.edges.count(), ag.nodes.count()
    docs, emb, events = (spark.read.parquet(f"{adir}/{t}.parquet")
                         for t in ("documents", "embeddings", "events"))
    table = leaves.graph_leaves(ag) + leaves.corpus_leaves(docs, emb, events)

    leaf_s: dict[str, float] = {}
    leaf_out: dict[str, list[int]] = {}
    with run.timed("analytics"):
        for name, layer, thunk in table:
            def leaf(thunk=thunk, name=name, layer=layer):
                with run.span(layer, name):
                    return checksum(thunk())

            leaf_s[name], out = run.op(name, leaf)
            if out is not None:
                leaf_out[name] = out
                if not run.expect(f"leaf:{name}", out, f"leaf {name}"):
                    run.failed += 1
    run.log("leaves: " + ", ".join(f"{k} {v:.2f}s" for k, v in leaf_s.items()))

    with run.untimed_check("analytics vs DuckDB and repeated"):
        ko = oracles.kg_oracles("documents")
        thunks = {n: th for n, _, th in table}
        rng = np.random.default_rng(run.seed)
        # every leaf runs once in the timed pass; these run again, so that a
        # result that does not repeat shows without an earlier run's hashes
        for name in rng.choice(ORACLE_LEAF_NAMES, size=ORACLE_LEAVES, replace=False):
            want = duck_rows(run, f"duck:{name}", {"documents": f"{adir}/documents.parquet"}, ko[name])
            df = thunks[name]().persist()
            again, got = checksum(df), spark_rows(df)
            if again != leaf_out.get(name):
                run.failed += 1
                run.problems.append(f"leaf {name} {again} != timed pass {leaf_out.get(name)}")
            if got != want:
                run.failed += 1
                run.problems.append(f"leaf {name} {got} != DuckDB {want}")
        spark.catalog.clearCache()
        run.log("analytics checked")

    walls: list[float] = []
    with run.timed("construct"):
        while len(walls) < CONSTRUCT_MIN_PASSES or sum(walls) < run.seconds:
            walls.append(construct_pass()[0])
    rss = peak_rss_mb()
    run.log("construct passes: " + ", ".join(f"{w:.2f}s" for w in walls))

    run.extra = {
        "analytics.graph_ops_s": sum(v for k, v in leaf_s.items() if leaves.is_graph_leaf(k)),
        "analytics.corpus_ops_s": sum(v for k, v in leaf_s.items() if not leaves.is_graph_leaf(k)),
        "store.bytes_per_input_byte": 0.0,
    }
    reads = list(leaf_s.values())
    return {
        "write_files_per_s": CONSTRUCT_FILES / statistics.median(walls),
        "read_p50_s": statistics.median(reads),
        "peak_rss_mb": rss,
    }


def search_query(seed: int) -> str:
    """One corpus word picked by the seed, then a fixed entity name: every
    seed sends a query of the same shape."""
    import numpy as np

    import gen

    word = np.random.default_rng(seed + 31).choice(gen.VOCAB)
    return f"{word} Pipeline-Orchestrator"


def workload_store(run: Run) -> dict[str, float]:
    import gen

    spark = run.start()
    mod = lambda m: __import__(f"graphiti_spark.{m}", fromlist=["_"])  # noqa: E731
    api, writer, sources = mod("api"), mod("storage.writer"), mod("sources.source_files")
    from pyspark.sql import functions as F

    sdir = os.path.join(run.work, "inputs")
    seed_docs = gen.documents(run.seed, STORE_SEED_FILES, repos=STORE_REPOS)
    gen.write(seed_docs, gen.DOC_SCHEMA, f"{sdir}/seed/documents.parquet")
    bdir = f"{sdir}/batch0"
    gen.write(gen.documents(run.seed * 100 + 1, INGEST_FILES, repos=STORE_REPOS,
                            exclude=set(int(i) for i in seed_docs.doc_id)),
              gen.DOC_SCHEMA, f"{bdir}/documents.parquet")
    run.load_cache(file_sha([f"{d}/documents.parquet" for d in (f"{sdir}/seed", bdir)]))

    seed_store = os.path.join(run.work, "store-seed")
    gs = api.GraphitiSpark(spark, store=writer.GraphStore(spark, seed_store))
    gs.add_episode_bulk(sources.synth_source_files(spark, f"{sdir}/seed"))
    run.log("store seeded")
    q = search_query(run.seed)

    def search():
        res = gs.search(q)
        # the result frames are the search operators' ranked lists
        with run.span("operators.search", "search.collect"):
            return {scope: spark_rows(df) for scope, df in sorted(res.items())}

    # cold iteration: the first search builds and stores the communities,
    # and the first timed one would still run slower than the rest
    for _ in range(2):
        run.expect("search", search(), f"search {q!r}")

    lat: list[float] = []
    with run.timed("search"):
        while len(lat) < SEARCH_MIN_QUERIES or sum(lat) < run.seconds:
            dt, out = run.op("search", search)
            lat.append(dt)
            if out is not None and not run.expect("search", out, f"search {q!r}"):
                run.failed += 1

    work_store = os.path.join(run.work, "store-ingest")
    shutil.copytree(seed_store, work_store)
    gi = api.GraphitiSpark(spark, store=writer.GraphStore(spark, work_store))
    with run.timed("ingest"):
        ingest_s, out = run.op("ingest", lambda: gi.add_episode_bulk(
            sources.synth_source_files(spark, bdir)))
    with run.untimed_check("ingest integrity"):
        bad = gi.integrity_report().where(F.col("n_dangling_edges") != 0).count()
        if out is not None and bad:
            run.failed += 1
            run.problems.append(f"ingest: {bad} groups with dangling edges")
        sums = [checksum(gi.store.read(t)) for t in ("nodes", "edges", "mentions", "episodes")]
        if out is not None and not run.expect("ingest", sums, "ingest"):
            run.failed += 1
        grown = dir_bytes(work_store) - dir_bytes(seed_store)
        content = sources.synth_source_files(spark, bdir).select(
            F.sum(F.octet_length("content"))).collect()[0][0]
    rss = peak_rss_mb()
    run.log("search: " + ", ".join(f"{t:.2f}s" for t in lat))
    run.extra = {
        "analytics.graph_ops_s": 0.0,
        "analytics.corpus_ops_s": 0.0,
        "store.bytes_per_input_byte": grown / content if content else 0.0,
        "store_growth_bytes": grown,
    }
    return {
        "write_files_per_s": INGEST_FILES / ingest_s,
        "read_p50_s": statistics.median(lat),
        "peak_rss_mb": rss,
    }


WORKLOADS = {"batch": workload_batch, "store": workload_store}

LAYER_STATS = (("wall_s", "s"), ("jobs", "count"), ("tasks", "count"),
               ("shuffle_bytes", "bytes"), ("gc_s", "s"), ("python_s", "s"))
CORPUS_LAYERS = ("operators.dedup", "operators.similarity", "operators.textstats",
                 "operators.bpe", "operators.events", "operators.multimodal")
# the layer table: layers that must run Spark jobs of their own in each
# workload's timed phases, layers that must at least be called there (they
# only build plans or columns), and layers that must stay idle there
MUST_RUN = {
    "batch": ("sources", "plans.pipeline", "operators.extraction", "operators.resolution",
              "operators.edges", "operators.temporal", "operators.community",
              "operators.search") + CORPUS_LAYERS,
    "store": ("api", "storage.writer", "sources", "operators.extraction",
              "operators.resolution", "operators.edges", "operators.search"),
}
MUST_CALL = {"batch": (), "store": ("plans.pipeline", "functions.embeddings")}
MUST_NOT_RUN = {
    "batch": ("storage.writer", "api"),
    "store": CORPUS_LAYERS + ("operators.community",),
}
# the layer that must own the most self time in one timed phase of a workload
LARGEST = {"batch": ("analytics", "operators.community"), "store": ("ingest", "storage.writer")}


def check_layers(run: Run, rep: dict, phase_rep: dict) -> None:
    """``rep``: the layer report over all timed phases; ``phase_rep``: over
    the phase ``LARGEST`` names."""
    w = run.args.workload
    for layer in MUST_RUN[w]:
        if rep[layer]["jobs"] <= 0:
            run.problems.append(f"layer table: {layer} ran no job on {w}")
    for layer in MUST_CALL[w]:
        if rep[layer]["wall_s"] <= 0:
            run.problems.append(f"layer table: {layer} was not called on {w}")
    for layer in MUST_NOT_RUN[w]:
        if rep[layer]["wall_s"] > 0 or rep[layer]["jobs"] > 0:
            run.problems.append(f"layer table: {layer} ran on {w}")
    phase, want = LARGEST[w]
    top = max((l for l in phase_rep if l not in ("session", "bench")),
              key=lambda l: phase_rep[l]["wall_s"])
    if top != want:
        run.problems.append(f"layer table: {top}, not {want}, is the largest layer in {phase}")


def per_layer(run: Run, e2e: dict[str, float]) -> dict[str, dict]:
    import digest
    import spans

    logs = [os.path.join(run.eventlog_dir, f) for f in os.listdir(run.eventlog_dir)]
    run.log(f"digesting the event log ({os.path.getsize(logs[0]) >> 20} MiB)")
    d = digest.digest_file(logs[0])
    run.log("event log digested")
    windows = [w for ws in run.phases.values() for w in ws]
    rep = spans.layer_report(run.tracer, d, windows)
    phase = LARGEST[run.args.workload][0]
    check_layers(run, rep, spans.layer_report(run.tracer, d, run.phases[phase]))
    m = {}
    for layer in spans.LAYERS:
        for stat, unit in LAYER_STATS:
            m[f"{layer}.{stat}"] = {"value": rep[layer][stat], "unit": unit}
    sw = rep["storage.writer"]
    growth = run.extra.pop("store_growth_bytes", 0)
    m["storage.writer.bytes_written"] = {"value": sw["bytes_written"], "unit": "bytes"}
    m["storage.writer.write_amp"] = {
        "value": sw["bytes_written"] / growth if growth else 0.0, "unit": "ratio"}
    m["operators.community.plan_s"] = {
        "value": spans.first_job_delay_s(run.tracer, d, "operators.community", windows),
        "unit": "s"}
    m["bench.wall_s"] = {"value": rep["bench"]["wall_s"], "unit": "s"}
    m["all.spill_bytes"] = {"value": sum(r["spill_bytes"] for r in rep.values()), "unit": "bytes"}
    m["all.python_bytes"] = {
        "value": sum(v["python_bytes_sent"] + v["python_bytes_returned"] for v in d.values()),
        "unit": "bytes"}
    m["trace.spans"] = {"value": len(run.tracer.spans), "unit": "count"}
    m["trace.overhead_s"] = {"value": run.tracer.overhead_s, "unit": "s"}
    for k, v in run.extra.items():
        m[k] = {"value": v, "unit": "ratio" if k.startswith("store.") else "s"}
    for k, u in E2E.items():
        m[f"traced.{k}"] = {"value": e2e[k], "unit": u}
    return m


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # collect() turns timestamps into naive datetimes in this process's
    # zone, DuckDB does not: the checks need one zone whatever TZ says
    os.environ["TZ"] = "UTC"
    time.tzset()
    if not os.path.isfile(os.path.join(ROOT, "graphiti_spark", "__init__.py")):
        print(f"perfbench: no graphiti_spark package in {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    run = Run(args)
    try:
        e2e = WORKLOADS[args.workload](run)
        e2e["setup_s"] = run.setup_s
        run.stop()  # also closes the event log
        if args.trace:
            metrics = per_layer(run, e2e)
        else:
            metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E.items()}
        run.save_cache()
    finally:
        run.stop()
    run.log("done")
    for p in run.problems:
        print("problem:", p)
        print("perfbench problem:", p, file=sys.stderr)
    print(json.dumps({
        "correct": run.failed == 0 and not run.problems,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
