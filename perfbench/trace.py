"""Spans recorded from outside the program, plus Spark's status store.

A :class:`Tracer` wraps public functions of the package's modules (it
replaces the module attribute the caller looks up), records one span per
call and restores every attribute on :meth:`Tracer.uninstall`. Spans are
kept in memory; :meth:`Tracer.dump` writes them out when the run ends.

Spark work is attributed to spans by stage-id range: each span records
the DAG scheduler's next stage and job ids when it opens and closes, and
after the run one read of the status store's stage list gives every
stage's counters. Job groups are not used because threads started by
the program (``ml.kmeans.k_sweep``'s pool) do not inherit them.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

SPARK_COUNTERS = (
    "spark.stages", "spark.tasks", "spark.input_bytes",
    "spark.shuffle_write_bytes", "spark.spill_bytes",
    "spark.executor_cpu_s", "spark.gc_s",
)


@dataclass
class Span:
    name: str
    start: float
    parent: int | None
    run_id: int
    stage_lo: int = 0
    job_lo: int = 0
    end: float | None = None
    stage_hi: int = 0
    job_hi: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return (self.end if self.end is not None else self.start) - self.start


class Tracer:
    """In-memory span recorder. ``sc`` (a SparkContext) is optional; with
    it every span also records its stage- and job-id range."""

    def __init__(self, sc=None):
        self.spans: list[Span] = []
        self.run_id = 0
        self.enabled = True
        self._dag = sc._jsc.sc().dagScheduler() if sc is not None else None
        self._lock = threading.Lock()
        self._main = threading.get_ident()
        self._stacks: dict[int, list[int]] = {}
        self._pending: Span | None = None
        self._patched: list[tuple[object, str, object]] = []

    # -- spans --------------------------------------------------------
    def _ids(self) -> tuple[int, int]:
        if self._dag is None:
            return 0, 0
        return int(self._dag.nextStageId()), int(self._dag.nextJobId())

    def open(self, name: str, **attrs) -> Span:
        self.close_pending()
        tid = threading.get_ident()
        stage, job = self._ids()
        with self._lock:
            stack = self._stacks.setdefault(tid, [])
            main = self._stacks.get(self._main, [])
            parent = stack[-1] if stack else (main[-1] if main else None)
            sp = Span(name, time.perf_counter(), parent, self.run_id,
                      stage_lo=stage, job_lo=job, attrs=dict(attrs))
            self.spans.append(sp)
            stack.append(len(self.spans) - 1)
        return sp

    def close(self, sp: Span) -> None:
        stage, job = self._ids()
        sp.end = time.perf_counter()
        sp.stage_hi, sp.job_hi = stage, job
        with self._lock:
            stack = self._stacks[threading.get_ident()]
            stack.remove(next(i for i in reversed(stack) if self.spans[i] is sp))

    def open_until_next(self, name: str) -> None:
        """Open a span that the next :meth:`open` (or the close of its
        parent) closes: for a lazy call whose work runs in the caller's
        code right after it returns."""
        self._pending = self.open(name)

    def close_pending(self) -> None:
        sp, self._pending = self._pending, None
        if sp is not None:
            self.close(sp)

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sp = self.open(name, **attrs)
        try:
            yield sp
        finally:
            self.close_pending()
            self.close(sp)

    # -- wrapping -----------------------------------------------------
    def wrap(self, module, attr: str, name: str, after=None) -> None:
        """Replace ``module.attr`` by a wrapper recording span ``name``.
        ``after(span, result, args, kwargs)`` runs outside the span."""
        orig = getattr(module, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return orig(*args, **kwargs)
            with tracer.span(name) as sp:
                out = orig(*args, **kwargs)
            if after is not None:
                after(sp, out, args, kwargs)
            return out

        self.patch(module, attr, lambda _orig: wrapper)

    def patch(self, module, attr: str, make) -> None:
        """Install ``make(original)`` in place of ``module.attr``."""
        orig = getattr(module, attr)
        setattr(module, attr, make(orig))
        self._patched.append((module, attr, orig))

    def uninstall(self) -> None:
        for module, attr, orig in reversed(self._patched):
            setattr(module, attr, orig)
        self._patched.clear()

    # -- analysis -----------------------------------------------------
    def children(self, i: int) -> list[int]:
        return [j for j, s in enumerate(self.spans) if s.parent == i]

    def self_seconds(self, i: int) -> float:
        """Duration minus the part of it that child spans cover."""
        sp = self.spans[i]
        ivs = sorted(
            (max(c.start, sp.start), min(c.end, sp.end))
            for c in (self.spans[j] for j in self.children(i))
        )
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in ivs:
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        return sp.seconds - covered

    def per_run(self, name: str, value=lambda sp: sp.seconds) -> dict[int, float]:
        """Sum of ``value(span)`` over spans called ``name``, per run id."""
        out: dict[int, float] = {}
        for sp in self.spans:
            if sp.name == name and sp.end is not None:
                out[sp.run_id] = out.get(sp.run_id, 0.0) + value(sp)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for i, sp in enumerate(self.spans):
                row = asdict(sp)
                row["id"] = i
                row["self_s"] = self.self_seconds(i)
                f.write(json.dumps(row, default=str) + "\n")


# -- Spark status store ----------------------------------------------------
def read_stages(sc) -> dict[int, dict]:
    """Counters of every stage the status store holds, by stage id.
    All five arguments of ``stageList`` must be passed through py4j:
    its Scala defaults are not visible there."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    jvm = sc._jvm
    stages = jsc.statusStore().stageList(
        None, False, False, sc._gateway.new_array(jvm.double, 0),
        jvm.java.util.ArrayList(),
    )
    out: dict[int, dict] = {}
    for i in range(stages.size()):
        s = stages.apply(i)
        if str(s.status()) == "SKIPPED":
            continue
        out[int(s.stageId())] = {
            "spark.stages": 1,
            "spark.tasks": int(s.numCompleteTasks()),
            "spark.input_bytes": int(s.inputBytes()),
            "spark.shuffle_write_bytes": int(s.shuffleWriteBytes()),
            "spark.spill_bytes": int(s.memoryBytesSpilled() + s.diskBytesSpilled()),
            "spark.executor_cpu_s": s.executorCpuTime() / 1e9,
            "spark.gc_s": s.jvmGcTime() / 1e3,
        }
    return out


def sum_stages(stages: dict[int, dict], ids) -> dict[str, float]:
    tot = {k: 0 for k in SPARK_COUNTERS}
    for sid in ids:
        st = stages.get(sid)
        if st:
            for k in SPARK_COUNTERS:
                tot[k] += st[k]
    return tot


def attribute_stages(tracer: Tracer) -> dict[int, set[int]]:
    """Each stage id goes to the innermost span whose range holds it
    (spans nest, so their ranges nest). Returns span index -> ids."""
    depth: dict[int, int] = {}
    for i, sp in enumerate(tracer.spans):
        depth[i] = 0 if sp.parent is None else depth[sp.parent] + 1
    owner: dict[int, int] = {}
    for i, sp in enumerate(tracer.spans):
        for sid in range(sp.stage_lo, sp.stage_hi):
            if sid not in owner or depth[i] >= depth[owner[sid]]:
                owner[sid] = i
    out: dict[int, set[int]] = {}
    for sid, i in owner.items():
        out.setdefault(i, set()).add(sid)
    return out
