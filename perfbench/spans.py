"""In-memory spans around calls into the engine's layers, readers for
Spark's status store and executed plans, and a peak-RSS sampler.

Spans are opened from the benchmark's own code: ``Tracer.install`` wraps
public module functions of ``tuplex_spark`` with span-recording shims
and ``Tracer.uninstall`` puts the originals back, so untraced and traced
repetitions run in one process.  Only the RSS sampler runs in untraced
runs.
"""

from __future__ import annotations

import functools
import json
import os
import re
import statistics
import threading
import time

# (module path, attribute, span name): the public entry point of each
# layer below the benchmark's own calls
WRAPPED = [
    ("tuplex_spark.context", "Context.csv", "context.source_open"),
    ("tuplex_spark.context", "Context.parquet", "context.source_open"),
    ("tuplex_spark.sources.csv_inference", "detect", "sources.detect"),
    ("tuplex_spark.udf.compiler", "compile_udf", "compiler.compile"),
    ("tuplex_spark.udf.fallback", "make_map_in_pandas", "fallback.plan"),
    ("tuplex_spark.dataset", "DataSet._resolve_fallback",
     "fallback.resolve_plan"),
    ("tuplex_spark.operators.join", "join_datasets", "join.call"),
    ("tuplex_spark.operators.aggregate", "aggregate_general",
     "aggregate.call"),
    ("tuplex_spark.operators.aggregate", "recognize",
     "aggregate.recognize"),
    ("tuplex_spark.functions.pipeline", "clean_corpus", "functions.call"),
]

# a span's name prefix is the layer that owns its self time
LAYERS = ["context", "sources", "compiler", "fallback", "dataset", "join",
          "aggregate", "functions", "exec"]


class Span:
    __slots__ = ("sid", "name", "start", "end", "parent", "result")

    def __init__(self, sid, name, start, parent):
        self.sid, self.name, self.start, self.parent = sid, name, start, parent
        self.end = None
        self.result = None

    def as_dict(self):
        return {"id": self.sid, "name": self.name, "start": self.start,
                "end": self.end, "parent": self.parent}


class Tracer:
    """Spans (name, start, end, parent) kept in memory; ``dump`` writes
    them as JSON.  Times are ``time.perf_counter`` seconds."""

    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._saved: list = []
        # perf_counter = wall clock - offset; converts Spark's epoch times
        self._offset = time.time() - time.perf_counter()

    # ------------------------------------------------------------ spans
    def open(self, name: str) -> Span:
        parent = self._stack[-1].sid if self._stack else None
        sp = Span(len(self.spans), name, time.perf_counter(), parent)
        self.spans.append(sp)
        self._stack.append(sp)
        return sp

    def close(self, sp: Span) -> None:
        sp.end = time.perf_counter()
        popped = self._stack.pop()
        if popped is not sp:
            raise RuntimeError(f"span {sp.name} closed out of order")

    def reset(self) -> None:
        """Close every open span now (after a call that raised)."""
        while self._stack:
            self.close(self._stack[-1])

    def span(self, name: str):
        tracer = self

        class _Ctx:
            def __enter__(self):
                self.sp = tracer.open(name)
                return self.sp

            def __exit__(self, *exc):
                tracer.close(self.sp)
                return False
        return _Ctx()

    def add_closed(self, name: str, start: float, end: float,
                   parent: Span) -> None:
        """A span measured elsewhere (a Spark job), under ``parent``."""
        sp = Span(len(self.spans), name, start, parent.sid)
        sp.end = end
        self.spans.append(sp)

    def from_epoch_ms(self, ms: int) -> float:
        return ms / 1000.0 - self._offset

    def to_epoch_ms(self, t: float) -> float:
        return (t + self._offset) * 1000.0

    # ------------------------------------------------------- wrapping
    def install(self) -> None:
        import importlib
        for mod_name, attr, span_name in WRAPPED:
            mod = importlib.import_module(mod_name)
            owner, leaf = mod, attr
            if "." in attr:
                cls_name, leaf = attr.split(".")
                owner = getattr(mod, cls_name)
            orig = getattr(owner, leaf)
            setattr(owner, leaf, self._shim(orig, span_name))
            self._saved.append((owner, leaf, orig))

    def uninstall(self) -> None:
        while self._saved:
            owner, leaf, orig = self._saved.pop()
            setattr(owner, leaf, orig)

    def _shim(self, fn, span_name):
        tracer = self

        @functools.wraps(fn)
        def shim(*args, **kwargs):
            sp = tracer.open(span_name)
            try:
                sp.result = fn(*args, **kwargs)
                return sp.result
            finally:
                tracer.close(sp)
        return shim

    # ------------------------------------------------------- analysis
    def children(self, sp: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == sp.sid]

    def within(self, root: Span) -> list[Span]:
        """``root`` and every span below it."""
        out, todo = [], [root]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(self.children(s))
        return out

    def self_times(self, root: Span) -> dict[str, float]:
        """Per-layer self time under ``root``: each span's duration minus
        the part of it that its children cover."""
        acc = {layer: 0.0 for layer in LAYERS}
        for s in self.within(root):
            covered = _union_length(
                [(max(c.start, s.start), min(c.end, s.end))
                 for c in self.children(s)])
            layer = s.name.split(".")[0]
            if layer in acc:
                acc[layer] += (s.end - s.start) - covered
        return acc

    def total(self, root: Span, name: str) -> float:
        return sum(s.end - s.start for s in self.within(root)
                   if s.name == name)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([s.as_dict() for s in self.spans], f)


def _union_length(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# ------------------------------------------------------------ status store
def _opt(o):
    return o.get() if o.isDefined() else None


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


class SparkProbe:
    """Reads jobs, stages and SQL executions from the live session's
    status stores."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self.cores = self.sc.defaultParallelism

    def job_ids(self) -> set[int]:
        return {j.jobId() for j in _seq(self.store.jobsList(None))}

    def execution_ids(self) -> set[int]:
        return {e.executionId()
                for e in _seq(self.sql_store.executionsList())}

    def jobs(self, ids) -> list[dict]:
        out = []
        for j in _seq(self.store.jobsList(None)):
            if j.jobId() not in ids:
                continue
            sub, comp = _opt(j.submissionTime()), _opt(j.completionTime())
            out.append({"id": j.jobId(),
                        "start": sub.getTime() if sub else None,
                        "end": comp.getTime() if comp else None,
                        "stages": _seq(j.stageIds())})
        return out

    def stage_metrics(self, job_list) -> dict:
        """Summed task metrics over the completed stages of ``job_list``
        plus the worst per-stage task-duration skew (max / median)."""
        want = {s for j in job_list for s in j["stages"]}
        m = dict.fromkeys(
            ["stages", "tasks", "task_run_s", "task_cpu_s", "gc_s",
             "input_bytes", "output_bytes", "shuffle_write_bytes",
             "shuffle_read_bytes", "spill_bytes"], 0.0)
        skew = 1.0
        gw = self.sc._gateway
        no_quantiles = gw.new_array(gw.jvm.double, 0)
        for st in _seq(self.store.stageList(None, False, False,
                                            no_quantiles, None)):
            if st.stageId() not in want or str(st.status()) != "COMPLETE":
                continue
            m["stages"] += 1
            m["tasks"] += st.numCompleteTasks()
            m["task_run_s"] += st.executorRunTime() / 1e3
            m["task_cpu_s"] += st.executorCpuTime() / 1e9
            m["gc_s"] += st.jvmGcTime() / 1e3
            m["input_bytes"] += st.inputBytes()
            m["output_bytes"] += st.outputBytes()
            m["shuffle_write_bytes"] += st.shuffleWriteBytes()
            m["shuffle_read_bytes"] += st.shuffleReadBytes()
            m["spill_bytes"] += st.memoryBytesSpilled() + \
                st.diskBytesSpilled()
            if st.numCompleteTasks() >= 2:
                durs = [d for d in (
                    _opt(t.duration()) for t in _seq(self.store.taskList(
                        st.stageId(), st.attemptId(), 100000)))
                    if d is not None]
                med = statistics.median(durs) if durs else 0
                if med > 0:
                    skew = max(skew, max(durs) / med)
        m["max_task_skew"] = skew
        return m

    def plans(self, exec_ids, since_ms: float) -> list[str]:
        """Final physical plans of the executions in ``exec_ids``
        submitted at or after ``since_ms``."""
        return [e.physicalPlanDescription()
                for e in _seq(self.sql_store.executionsList())
                if e.executionId() in exec_ids
                and e.submissionTime() >= since_ms]


_PY_NODES = re.compile(r"\b(MapInPandas|MapInArrow|PythonMapInArrow|"
                       r"ArrowEvalPython|BatchEvalPython|FlatMapGroupsInPandas|"
                       r"FlatMapCoGroupsInPandas|AggregateInPandas|"
                       r"WindowInPandas)\b")
_BCAST = re.compile(r"\bBroadcastHashJoin\b|\bBroadcastNestedLoopJoin\b")
_SHUF = re.compile(r"\bSortMergeJoin\b|\bShuffledHashJoin\b")
_CODEGEN = re.compile(r"\[codegen id : (\d+)\]")


def plan_counts(desc: str) -> dict:
    """Node counts from one formatted physical plan: the operator tree is
    the text before the first blank line; under AQE only its final plan
    counts.  Codegen stages are the distinct codegen ids in the details."""
    tree, _, details = desc.partition("\n\n")
    if "== Final Plan ==" in tree:
        tree = tree.split("== Final Plan ==", 1)[1]
        tree = tree.split("== Initial Plan ==", 1)[0]
    return {"python_nodes": len(_PY_NODES.findall(tree)),
            "broadcast_joins": len(_BCAST.findall(tree)),
            "shuffle_joins": len(_SHUF.findall(tree)),
            "codegen_stages": len(set(_CODEGEN.findall(details)))}


# ------------------------------------------------------------ memory
def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _children(pid: int) -> list[int]:
    kids = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                kids.extend(int(p) for p in f.read().split())
    except OSError:
        pass
    return kids


def _is_python(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().startswith("python")
    except OSError:
        return False


class RssSampler:
    """Polls the peak RSS (VmHWM) of this process and all its
    descendants; keeps each process's highest reading, so processes that
    exit between polls still count with their last value.  A process
    counts once it has been seen in two polls: a child caught between
    the JVM's vfork and its exec still reports the JVM's whole address
    space as its own."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak_kb: dict[int, int] = {}
        self.polls: dict[int, int] = {}
        self.python_worker: set[int] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def start(self):
        self._thread.start()
        return self

    def stop(self):
        self.poll()
        self._stop.set()
        self._thread.join(timeout=5)

    def poll(self):
        me = os.getpid()
        todo = [me]
        while todo:
            pid = todo.pop()
            kb = _hwm_kb(pid)
            self.polls[pid] = self.polls.get(pid, 0) + 1
            if kb > self.peak_kb.get(pid, 0):
                self.peak_kb[pid] = kb
            for c in _children(pid):
                todo.append(c)
                if pid != me and _is_python(c):
                    self.python_worker.add(c)

    def _run(self):
        while not self._stop.wait(self.interval):
            self.poll()

    def _counted(self) -> dict[int, int]:
        return {pid: kb for pid, kb in self.peak_kb.items()
                if self.polls[pid] >= 2}

    def breakdown(self) -> list[str]:
        """'pid:comm:MB' for every counted process, largest first."""
        out = []
        for pid, kb in sorted(self._counted().items(),
                              key=lambda kv: -kv[1]):
            try:
                with open(f"/proc/{pid}/comm") as f:
                    comm = f.read().strip()
            except OSError:
                comm = "exited"
            out.append(f"{pid}:{comm}:{kb // 1024}")
        return out

    def total_mb(self) -> float:
        return sum(self._counted().values()) / 1024.0

    def python_workers_mb(self) -> float:
        counted = self._counted()
        return sum(counted.get(p, 0) for p in self.python_worker) / 1024.0
