"""analyst_turns: an analyst's conversation over one pre-loaded frame.

Turns go through ``BambooAI.pd_agent_converse`` with episodic memory on
and a scripted, zero-latency LLM that answers from the bank below. Each
bank entry is a PySpark snippet paired with an independent DuckDB query
over the same parquet. The untimed warm-up asks the first intent; each
timed round asks the whole bank in a seeded order, so a round holds a
repeated intent, which must be recalled (similarity 1.0 passes the 0.8
gate), and a first ask, which runs the planner and writes a new memory.
The facade adopts a successful turn's ``df`` as the next frame, so the
frame is reset to the base table before every turn.
"""

from __future__ import annotations

import functools
import random
import time

import checks
import gen
from loop import Rounds, median, result, run_rounds, timed_start

SF = 0.02  # orders: 30,000 rows
FRAME = "orders"

# intent -> (generated PySpark, independent DuckDB query over the parquet)
BANK = {
    "top 5 customers by total order value": (
        "df = (df.groupBy('o_custkey')\n"
        "        .agg(F.sum(F.col('o_totalprice').cast('decimal(18,2)'))"
        ".cast('double').alias('total'))\n"
        "        .orderBy(F.desc('total'), 'o_custkey').limit(5))",
        "SELECT o_custkey, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))"
        " AS DOUBLE) AS total FROM orders GROUP BY 1"
        " ORDER BY total DESC, o_custkey LIMIT 5",
    ),
    "monthly order count in 1997 by priority": (
        "df = (df.filter(F.year('o_orderdate') == 1997)\n"
        "        .groupBy(F.date_format('o_orderdate', 'yyyy-MM')"
        ".alias('month'), 'o_orderpriority')\n"
        "        .agg(F.count(F.lit(1)).alias('n_orders')))",
        "SELECT strftime(o_orderdate, '%Y-%m') AS month, o_orderpriority,"
        " COUNT(*) AS n_orders FROM orders"
        " WHERE year(o_orderdate) = 1997 GROUP BY 1, 2",
    ),
}

EXPERT = "```yaml\nrequires_dataset: true\nexpert: 'Data Analyst'\nconfidence: 9\n```"
PLAN = (
    "```yaml\nproblem_reflection: answer from the orders table\n"
    "data_operations: filter, group, aggregate\n"
    "analysis_steps: [filter, group, aggregate]\n"
    "output_format: [table]\n```"
)
RECALL_MARK = "Example solution from a similar past task"


class ScriptedLLM:
    """Zero-latency LLM answering each agent role from the bank. Records
    the number of calls and whether the code generator was handed a
    recalled solution."""

    def __init__(self):
        self.calls = 0
        self.recalled: list[bool] = []

    def __call__(self, system: str, user) -> str:
        self.calls += 1
        if "route analytics questions" in system:
            return EXPERT
        if "classify dataset questions" in system:
            return (
                "```yaml\nanalyst: 'Data Analyst DF'\nunknown: table\n"
                f"condition: none\ndata: {FRAME}\nintent_breakdown: {user}\n```"
            )
        if "analysis plans" in system:
            return PLAN
        if "write PySpark code" in system:
            intent = user.split("Task: ", 1)[1].split("\n", 1)[0]
            self.recalled.append(RECALL_MARK in user)
            return f"```python\n{BANK[intent][0]}\n```"
        if "Summarize the analysis" in system:
            return "The table above answers the question."
        if "Rate the quality" in system:
            return "9"
        raise AssertionError(f"unscripted prompt: {system[:60]}")


def _trace_layers(tr) -> None:
    from bambooai_spark.agent import orchestrator  # noqa: PLC0415
    from bambooai_spark.agent.memory import EpisodicMemory  # noqa: PLC0415
    from bambooai_spark.executor import SparkCodeExecutor  # noqa: PLC0415

    tr.wrap(orchestrator, "dataframe_summary_to_string", "profile")
    tr.wrap(EpisodicMemory, "retrieve", "memory.retrieve")
    tr.wrap(EpisodicMemory, "add", "memory.add")
    tr.wrap(SparkCodeExecutor, "execute", "exec")


def run(ctx) -> dict:
    from bambooai_spark import BambooAI  # noqa: PLC0415
    from bambooai_spark.io import load_table  # noqa: PLC0415

    gen.generate(ctx.data_dir, ctx.seed, sf=SF, with_lineitem=False)
    base = load_table(ctx.spark, ctx.data_dir, FRAME)
    llm = ScriptedLLM()
    bamboo = BambooAI(base, llm=llm, vector_db=True, planning=True,
                      user_id="analyst", df_id=FRAME)
    tr = ctx.tracer
    if tr:
        _trace_layers(tr)
    pending: list = []  # output checks, run after the timed turns
    con = functools.cache(lambda: checks.duck(ctx.data_dir))
    expected = functools.cache(lambda q: con().execute(BANK[q][1]).df())

    def check(question: str, got, recalled: bool, must_recall: bool) -> None:
        checks.expect(got is not None, f"{question}: turn failed")
        checks.same_rows(got, expected(question), question)
        checks.expect(recalled or not must_recall,
                      f"{question}: repeated intent not recalled")

    def collect(question: str, result, must_recall: bool) -> None:
        """Keep the turn's answer rows for the deferred check."""
        got = result.df.toPandas() if result is not None and result.ok else None
        recalled = bool(llm.recalled) and llm.recalled[-1]
        pending.append((question, functools.partial(
            check, question, got, recalled, must_recall)))

    def turn(question: str):
        bamboo.df = base  # every turn asks against the base frame
        if not tr:
            return bamboo.pd_agent_converse(question)
        with tr.span("turn", calls0=llm.calls) as sp:
            out = bamboo.pd_agent_converse(question)
        sp["calls1"] = llm.calls
        return out

    asked: set[str] = set()

    def ask(rounds: Rounds, question: str) -> None:
        out = rounds.op("turn", lambda: turn(question))
        collect(question, out, must_recall=question in asked)
        asked.add(question)

    t = time.perf_counter()
    warm = Rounds()
    warm.new_round()
    ask(warm, next(iter(BANK)))
    ctx.layers["warmup_s"] = time.perf_counter() - t
    ctx.log(f"warm-up turn in {ctx.layers['warmup_s']:.2f}s")
    if tr:
        tr.spans.clear()

    rng = random.Random(ctx.seed)
    rounds = Rounds()
    start = timed_start(ctx)

    def one_round(_i):
        order = list(BANK)
        rng.shuffle(order)
        for q in order:
            ask(rounds, q)

    wall = run_rounds(ctx.seconds, one_round, rounds)
    turns = rounds.kind("turn")
    ctx.log(f"{len(turns)} timed turns in {wall:.2f}s; median {median(turns):.3f}s")
    if tr:
        _layers(ctx, tr, llm)
        ctx.layers["turn_cpu_s"] = median(rounds.kind("turn", cpu=True))
    return result(ctx, start, rounds, pending, warm,
                  turn_s=median(turns),
                  turn_cpu_s=median(rounds.kind("turn", cpu=True)),
                  turns=len(turns))


def _layers(ctx, tr, llm) -> None:
    turns = tr.named("turn")
    per = {k: [] for k in ("profile_s", "profile_jobs", "memory_retrieve_s",
                           "memory_add_s", "exec_s", "agent_self_s",
                           "turn_jobs", "llm_calls_per_turn")}
    for t in turns:
        prof = tr.named("profile", t)
        per["profile_s"].append(sum(tr.duration(s) for s in prof))
        per["profile_jobs"].append(sum(tr.jobs(s) for s in prof))
        per["memory_retrieve_s"].append(tr.total("memory.retrieve", t))
        per["memory_add_s"].append(tr.total("memory.add", t))
        per["exec_s"].append(tr.total("exec", t))
        per["agent_self_s"].append(tr.self_time(t))
        per["turn_jobs"].append(tr.jobs(t))
        per["llm_calls_per_turn"].append(t["calls1"] - t["calls0"])
    for k, v in per.items():
        ctx.layers[k] = median(v)
    retrievals = len(tr.named("memory.retrieve"))
    hits = sum(llm.recalled[1:])  # the warm-up turn comes first
    ctx.layers["memory_hit_ratio"] = hits / retrievals if retrievals else 0.0
