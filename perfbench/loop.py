"""The closed loop every workload shares: whole rounds of the same
operations until the run length has passed, each operation timed on its
own."""

from __future__ import annotations

import statistics
import time

from probes import tree_cpu_s


class Rounds:
    """Collects per-operation latencies and CPU seconds by round.

    ``op(kind, fn)`` times one call, in wall seconds and in CPU seconds of
    the process tree; a call that raises counts as failed and is not
    timed. A round's figure for some kinds is the sum over its operations
    of those kinds, so work done between operations (output checks,
    bookkeeping) stays out of every timing."""

    def __init__(self):
        self.rounds: list[dict[str, list[float]]] = []
        self.cpu: list[dict[str, list[float]]] = []
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def new_round(self) -> None:
        self.rounds.append({})
        self.cpu.append({})

    def op(self, kind: str, fn):
        self.attempted += 1
        c = tree_cpu_s()
        t = time.perf_counter()
        try:
            out = fn()
        except Exception as exc:  # counted, reported, never timed
            self.failed += 1
            self.errors.append(f"{kind}: {type(exc).__name__}: {exc}"[:300])
            return None
        self.rounds[-1].setdefault(kind, []).append(time.perf_counter() - t)
        self.cpu[-1].setdefault(kind, []).append(tree_cpu_s() - c)
        return out

    def kind(self, kind: str, cpu: bool = False) -> list[float]:
        return [x for r in (self.cpu if cpu else self.rounds)
                for x in r.get(kind, [])]

    def per_round(self, *kinds: str, cpu: bool = False) -> list[float]:
        """Summed latency (or CPU seconds) of ``kinds`` in each round, all
        kinds if none are named."""
        return [
            sum(sum(v) for k, v in r.items() if not kinds or k in kinds)
            for r in (self.cpu if cpu else self.rounds)
        ]


def run_rounds(seconds: float, one_round, rounds: Rounds) -> float:
    """Run ``one_round(i)`` until ``seconds`` have passed (at least once);
    returns the wall time the rounds took."""
    t0 = time.perf_counter()
    i = 0
    while i == 0 or time.perf_counter() - t0 < seconds:
        rounds.new_round()
        one_round(i)
        i += 1
    return time.perf_counter() - t0


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def run_checks(pending: list) -> tuple[list[str], float]:
    """Run the deferred output checks; returns (problems, seconds taken).
    Workloads collect the program's outputs as they go and compare them
    here, after the timed rounds, so no oracle runs inside set-up or a
    timing."""
    import checks  # noqa: PLC0415

    t = time.perf_counter()
    problems = []
    for what, fn in pending:
        try:
            fn()
        except checks.CheckFailed as exc:
            msg = str(exc)
            problems.append(msg if msg.startswith(what) else f"{what}: {msg}")
        except Exception as exc:
            problems.append(f"{what}: {type(exc).__name__}: {exc}"[:400])
    return problems, time.perf_counter() - t


def timed_start(ctx) -> tuple[float, float]:
    """Mark the end of set-up: (setup_s from process start, JVM GC
    seconds so far)."""
    return time.perf_counter() - ctx.t_start, ctx.probe.gc_s()


def result(ctx, start: tuple[float, float], rounds: Rounds,
           pending: list, warm: Rounds | None = None, **detail) -> dict:
    """Run the deferred checks, log what failed and assemble the
    workload's result: the generic end-to-end figures plus the workload's
    own ``detail``."""
    setup_s, gc0 = start
    ctx.layers["jvm_gc_s"] = ctx.probe.gc_s() - gc0
    problems, check_s = run_checks(pending)
    for p in problems:
        ctx.log(f"CHECK FAILED: {p}")
    for e in (warm.errors if warm else []) + rounds.errors:
        ctx.log(f"FAILED: {e}")
    ctx.log(f"{len(pending)} output checks in {check_s:.2f}s")
    return {
        "correct": not problems and not (warm and warm.failed),
        "attempted": rounds.attempted,
        "failed": rounds.failed,
        "e2e": {
            "setup_s": setup_s,
            "round_s": median(rounds.per_round()),
            "round_cpu_s": median(rounds.per_round(cpu=True)),
            "rounds": len(rounds.rounds),
            "check_s": check_s,
            **detail,
        },
    }
