"""Shared benchmark machinery: inputs, Spark lifecycle, tracing, counters.

Everything here observes the engine from outside: inputs are generated
with the pure ``corpus.gen_page`` and handed over as parquet-backed
DataFrames, spans are recorded around public calls, job and task counts
come from the public ``SparkContext.statusTracker()``, storage counters
from walking directories, and memory from ``/proc``.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import statistics
import subprocess
import threading
import time
from contextlib import contextmanager, nullcontext
from pathlib import Path

# Index space the workload seed draws page windows from. gen_page(i, n)
# is a pure function of (i, n), so a fixed n keeps every window's pages
# reproducible while different seeds see different documents.
N_UNIVERSE = 1_000_000
# Files per materialized input: a multi-file dataset, like a real crawl
# snapshot, so Spark splits the doc-parallel stages across cores.
INPUT_FILES = 8
# Capped so the driver JVM stays a modest neighbour on a shared host.
DRIVER_MEMORY = "4g"


# -- inputs -----------------------------------------------------------------

class Golden:
    """Generator truth for one page: what a correct engine must produce."""

    __slots__ = ("url", "html", "lang", "text", "sha256_text", "triples")

    def __init__(self, rec: dict):
        self.url = rec["url"]
        self.html = rec["html"]
        self.lang = rec["lang"]
        self.text = rec["text"]
        self.sha256_text = rec["sha256_text"]
        self.triples = [(t["url"], t["subj"], t["pred"], t["obj"]) for t in rec["triples"]]

    @property
    def has_truth(self) -> bool:
        """Golden triples exist only for non-empty English pages."""
        return self.lang == "en" and bool(self.text)

    def header(self) -> dict:
        """What DocService.header must return for this page."""
        from pdfmef_spark.service import HEADER_PREDS

        out: dict = {"url": self.url}
        for _, _, pred, obj in self.triples:
            if pred not in HEADER_PREDS:
                continue
            if pred in ("hasTitle", "hasAbstract"):
                out[pred] = obj
            else:
                out.setdefault(pred, []).append(obj)
        return {k: sorted(v) if isinstance(v, list) else v for k, v in out.items()}

    def citations(self) -> list[str]:
        return sorted({obj for _, _, pred, obj in self.triples if pred == "cites"})


def generate(indices) -> list[dict]:
    from pdfmef_spark import corpus

    return [corpus.gen_page(int(i), N_UNIVERSE) for i in indices]


def write_pages(path: Path, recs: list[dict]) -> None:
    """Materialize pages in the engine's input shape (url, warc_ts, html,
    lang) as INPUT_FILES parquet files. Golden columns stay out of it."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path.mkdir(parents=True, exist_ok=True)
    table = pa.table(
        {
            "url": pa.array([r["url"] for r in recs], pa.string()),
            "warc_ts": pa.array([r["warc_ts"] for r in recs], pa.timestamp("us", tz="UTC")),
            "html": pa.array([r["html"] for r in recs], pa.binary()),
            "lang": pa.array([r["lang"] for r in recs], pa.string()),
        }
    )
    step = -(-len(recs) // INPUT_FILES)
    for k in range(INPUT_FILES):
        pq.write_table(table.slice(k * step, step), path / f"part-{k:02d}.parquet")


def materialize(path: Path, indices, reps: int = 3) -> tuple[dict[str, Golden], float]:
    """Generate + write the pages ``reps`` times (the last copy stays at
    ``path``); returns the golden map and the median generate+write time."""
    times, recs = [], []
    for k in range(reps):
        dest = path if k == reps - 1 else path.with_name(f"{path.name}.rep{k}")
        t0 = time.perf_counter()
        recs = generate(indices)
        write_pages(dest, recs)
        times.append(time.perf_counter() - t0)
        if dest != path:
            rmtree(dest)
    return {r["url"]: Golden(r) for r in recs}, statistics.median(times)


def window(rng, size: int, taken: list[tuple[int, int]] = ()) -> range:
    """A seed-chosen run of ``size`` page indices disjoint from ``taken``."""
    while True:
        start = rng.randrange(0, N_UNIVERSE - size)
        if all(start + size <= a or b <= start for a, b in taken):
            return range(start, start + size)


def rmtree(path: Path) -> None:
    shutil.rmtree(path, ignore_errors=True)


def sha256(text: str | None) -> str | None:
    return None if text is None else hashlib.sha256(text.encode("utf-8")).hexdigest()


# -- Spark lifecycle ----------------------------------------------------------

def start_spark():
    """The engine's own session factory, local[nproc]; returns (spark, seconds)."""
    from pdfmef_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(
        "perfbench", cores=len(os.sched_getaffinity(0)), driver_memory=DRIVER_MEMORY
    )
    return spark, time.perf_counter() - t0


def stop_spark(spark) -> None:
    """Stop the context, then end the gateway JVM and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        # the gateway JVM exits when its stdin pipe closes
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


# -- /proc ------------------------------------------------------------------

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.scandir("/proc"):
        if not entry.name.isdigit():
            continue
        try:
            with open(f"/proc/{entry.name}/stat", "rb") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces; ppid is the 2nd field after ")"
        ppid = int(stat[stat.rindex(b")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(entry.name))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children_map(), [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, ()):
            out.append(c)
            todo.append(c)
    return out


_PAGE = os.sysconf("SC_PAGE_SIZE")


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm", "rb") as fh:
            return int(fh.read().split()[1]) * _PAGE
    except (OSError, IndexError, ValueError):
        return 0


class RssSampler:
    """Peak summed RSS of this process and every descendant (the Spark
    JVM, its Python daemon and workers), sampled from /proc."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_rss = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        pids = [os.getpid(), *descendants(os.getpid())]
        self.peak_rss = max(self.peak_rss, sum(_rss_bytes(p) for p in pids))

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def __enter__(self):
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()


# -- storage counters ---------------------------------------------------------

def snapshot_dir(path: Path) -> dict[str, tuple[int, int]]:
    """{relative file path: (size, mtime_ns)} for every file under path."""
    out = {}
    for root, _, files in os.walk(path):
        for f in files:
            full = os.path.join(root, f)
            try:
                st = os.stat(full)
            except FileNotFoundError:
                continue
            out[os.path.relpath(full, path)] = (st.st_size, st.st_mtime_ns)
    return out


def written_since(before: dict, after: dict, suffix: str = ".parquet") -> tuple[int, int]:
    """(bytes, files) of data files that are new or rewritten in ``after``."""
    changed = [
        size for rel, (size, mtime) in after.items()
        if rel.endswith(suffix) and before.get(rel) != (size, mtime)
    ]
    return sum(changed), len(changed)


def count_files(path: Path, suffix: str = ".parquet") -> int:
    return sum(
        1 for _, _, files in os.walk(path) for f in files if f.endswith(suffix)
    )


# -- tracing ------------------------------------------------------------------

class Tracer:
    """Spans around public engine calls, each with its own Spark job group.

    A span records its name, start and end, plus the jobs and completed
    tasks Spark ran inside it. Jobs submitted from engine-owned threads
    carry no job group, so a span also claims every group-less job that
    started after it opened (spans never overlap: one client, no
    nesting). Spans stay in memory and are summarized when the run ends.
    ``overhead`` accumulates the seconds the tracer itself spends.
    """

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.st = self.sc.statusTracker()
        self.spans: list[dict] = []
        self.overhead = 0.0
        self._high = self._max_groupless_job()

    def _max_groupless_job(self) -> int:
        return max(self.st.getJobIdsForGroup(None), default=-1)

    @contextmanager
    def span(self, name: str):
        t0 = time.perf_counter()
        group = f"perfbench-{len(self.spans)}-{name}"
        high = max(self._high, self._max_groupless_job())
        self.sc.setJobGroup(group, name)
        rec = {"name": name, "start": time.perf_counter()}
        self.spans.append(rec)
        self.overhead += rec["start"] - t0
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            self._settle()
            ids = set(self.st.getJobIdsForGroup(group))
            ids.update(j for j in self.st.getJobIdsForGroup(None) if j > high)
            rec["job_ids"] = sorted(ids)
            rec["tasks"] = self._tasks(ids)
            self._high = max([self._high, *ids])
            self.overhead += time.perf_counter() - rec["end"]

    def _settle(self) -> None:
        """Wait until the status store has seen every job end."""
        deadline = time.perf_counter() + 5.0
        while self.st.getActiveJobsIds() and time.perf_counter() < deadline:
            time.sleep(0.02)
        time.sleep(0.05)

    def _tasks(self, job_ids) -> int:
        n = 0
        for j in job_ids:
            info = self.st.getJobInfo(j)
            for s in info.stageIds if info is not None else ():
                stage = self.st.getStageInfo(s)
                if stage is not None:
                    n += stage.numCompletedTasks
        return n

    def _named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def busy_s(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self._named(name))

    def jobs(self, name: str) -> int:
        return sum(len(s["job_ids"]) for s in self._named(name))


class NullTracer:
    """Stand-in for untraced runs: spans cost nothing and record nothing."""

    overhead = 0.0

    def span(self, name: str):
        return nullcontext({})


# -- output digests -------------------------------------------------------------

def read_rows(path: Path, columns: list[str]) -> list[tuple]:
    """Rows of a (possibly hive-partitioned) parquet stage dir, via pyarrow."""
    import pyarrow.dataset as pads

    dset = pads.dataset(str(path), format="parquet", partitioning="hive")
    table = dset.to_table(columns=columns)
    cols = [table.column(c).to_pylist() for c in columns]
    return list(zip(*cols))


def count_rows(path: Path) -> int:
    """Row count from parquet footers only."""
    import pyarrow.dataset as pads

    return pads.dataset(str(path), format="parquet", partitioning="hive").count_rows()


def graph_digest(out_dir: Path) -> str:
    """Order-free content hash of the nodes and edges stage outputs."""
    nodes = sorted(read_rows(out_dir / "nodes", ["entity_id", "canonical", "type", "n_mentions"]))
    edges = sorted(read_rows(out_dir / "edges", ["src", "dst", "pred", "weight"]))
    h = hashlib.sha256()
    for row in nodes:
        h.update(repr(row).encode())
    h.update(b"|")
    for row in edges:
        h.update(repr(row).encode())
    return h.hexdigest()
