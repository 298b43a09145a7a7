"""Agent-loop tests — the SURVEY §7 minimum end-to-end slice ('count the
runs per month' exemplar) with a scripted LLM: question → routing → plan →
codegen → sandbox → result → summary, plus the self-healing retry loop."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from bambooai_spark.agent import AgentOrchestrator
from bambooai_spark.io import load_table
from tests.conftest import SF_DIR


class ScriptedLLM:
    """Returns canned responses per agent role (matched on the system
    prompt), recording every call."""

    def __init__(self, responses: dict[str, list[str] | str]):
        self.responses = {
            k: (v if isinstance(v, list) else [v]) for k, v in responses.items()
        }
        self.calls: list[tuple[str, str]] = []

    def __call__(self, system: str, user: str) -> str:
        self.calls.append((system, user))
        for key, vals in self.responses.items():
            if key in system:
                return vals.pop(0) if len(vals) > 1 else vals[0]
        raise AssertionError(f"unexpected system prompt: {system[:60]}")


EXPERT_DA = "```yaml\nrequires_dataset: true\nexpert: 'Data Analyst'\nconfidence: 9\n```"
ANALYST = (
    "```yaml\nanalyst: 'Data Analyst DF'\nunknown: monthly order counts\n"
    "condition: year 1997\ndata: o_orderdate\n"
    "intent_breakdown: count orders per month in 1997\n```"
)
PLAN = (
    "```yaml\nproblem_reflection: count orders per month in 1997\n"
    "data_operations: filter year, group by month\n"
    "analysis_steps: [filter, group, count, sort]\n"
    "output_format: [order_month, order_count]\n```"
)
GOOD_CODE = (
    "```python\n"
    "df = (df.filter(F.year('o_orderdate') == 1997)\n"
    "        .groupBy(F.date_format(F.date_trunc('month', 'o_orderdate'),"
    " 'yyyy-MM').alias('order_month'))\n"
    "        .agg(F.count(F.lit(1)).alias('order_count'))\n"
    "        .orderBy('order_month'))\n"
    "```"
)
BAD_CODE = "```python\ndf = df.groupBy(F.col('no_such_col')).count()\n```"


def _llm(codegen):
    return ScriptedLLM(
        {
            "route analytics questions": EXPERT_DA,
            "classify dataset questions": ANALYST,
            "analysis plans": PLAN,
            "write PySpark code": codegen,
            "previous PySpark code failed": GOOD_CODE,
            "reconcile an analysis plan": PLAN,
            "Summarize the analysis": "Orders per month in 1997 computed.",
        }
    )


def test_end_to_end_exemplar(spark):
    llm = _llm(GOOD_CODE)
    orch = AgentOrchestrator(spark, llm)
    orders = load_table(spark, SF_DIR, "orders")
    res = orch.converse("Count the number of orders per month in 1997", orders)
    assert res.expert == "Data Analyst"
    assert res.intent == "count orders per month in 1997"
    assert res.plan and "data_operations" in res.plan
    assert res.corrections == 0 and not res.errors
    rows = {r.order_month: r.order_count for r in res.df.collect()}
    want = {
        r.m: r.c
        for r in orders.filter(F.year("o_orderdate") == 1997)
        .groupBy(F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM").alias("m"))
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }
    assert rows == want and len(rows) == 12
    assert res.summary == "Orders per month in 1997 computed."


def test_self_healing_retry_loop(spark):
    llm = _llm(BAD_CODE)  # first codegen fails → corrector returns GOOD_CODE
    orch = AgentOrchestrator(spark, llm)
    orders = load_table(spark, SF_DIR, "orders")
    res = orch.converse("Count orders per month in 1997", orders)
    assert res.corrections == 1
    assert len(res.errors) == 1
    assert "no_such_col" in res.errors[0]
    assert res.df.count() == 12
    # the corrector prompt carried the filtered excerpt, not a JVM wall
    corrector_call = next(u for s, u in llm.calls if "Failed code" in u)
    assert "-->" in corrector_call and "at org.apache" not in corrector_call


def test_research_question_routes_to_prose(spark):
    llm = ScriptedLLM(
        {
            "route analytics questions": (
                "```yaml\nrequires_dataset: false\n"
                "expert: 'Research Specialist'\nconfidence: 8\n```"
            ),
            "Research Specialist": "Prose answer.",
        }
    )
    orch = AgentOrchestrator(spark, llm)
    orders = load_table(spark, SF_DIR, "orders")
    res = orch.converse("What is a TPC-H benchmark?", orders)
    assert res.expert == "Research Specialist"
    assert res.df is None and res.code is None
    assert res.summary == "Prose answer."


def test_inspector_and_reviewer_stages(spark):
    """Ontology-grounded data modeling + post-correction plan review
    (reference Dataframe Inspector utils.py:323-367, Reviewer
    bambooai.py:850-878)."""
    llm = _llm(BAD_CODE)  # failing codegen → corrector → reviewer fires
    llm.responses["distill a semantic data model"] = [
        "```yaml\nkeys: [o_orderdate]\nmeasurements_attributes: [o_totalprice]\n```"
    ]
    llm.responses["reconcile an analysis plan"] = [
        "```yaml\nproblem_reflection: reviewed plan\n```"
    ]
    orch = AgentOrchestrator(spark, llm)
    orders = load_table(spark, SF_DIR, "orders")
    res = orch.converse(
        "Count orders per month in 1997", orders, ontology=":orders a :Table ."
    )
    assert res.ok and res.corrections == 1
    assert "reviewed plan" in res.plan  # reviewer replaced the plan
    inspector_call = next(
        (u for s, u in llm.calls if "Ontology:" in u), None
    )
    assert inspector_call is not None
    # the data model flowed into the planner context
    planner_call = next(u for s, u in llm.calls if "Task:" in u and "Data model:" in u)
    assert "o_orderdate" in planner_call


def test_rest_connector_union_and_normalize(spark):
    from bambooai_spark.sources.connectors import rest_source
    from bambooai_spark.functions.timeseries import normalize_longitudinal

    def fake_fetch():
        yield [
            {"athlete": "a", "activity": "x", "ts": 1, "speed": 2.0},
            {"athlete": "a", "activity": "x", "ts": 2, "speed": 3.0},
        ]
        yield [
            {"athlete": "a", "activity": "y", "ts": 3, "speed": 1.0},
            {"athlete": "b", "activity": "z", "ts": 1, "speed": 4.0},
        ]
        yield []  # empty page must not break the union

    df = rest_source(
        spark, fake_fetch,
        schema="athlete string, activity string, ts long, speed double",
    )
    assert df.count() == 4
    out = normalize_longitudinal(
        df, group_col="athlete", id_col="activity", ts_col="ts",
        speed_col="speed",
    )
    rows = {(r.athlete, r.activity): r.new_id for r in out.collect()}
    assert rows[("a", "x")] == 1 and rows[("a", "y")] == 2 and rows[("b", "z")] == 1
    dist = {(r.athlete, r.ts): r.distance for r in out.collect()}
    assert dist[("a", 2)] == 5.0  # cumsum within (athlete, activity)

    assert rest_source(spark, lambda: iter([])) is None


def test_tool_dispatch_loop():
    from bambooai_spark.agent.tools import run_tool_loop, parse_tool_call

    responses = [
        '```tool_call\n{"tool": "google_search",'
        ' "arguments": {"search_query": "spark AQE"}}\n```',
        '```tool_call\n{"tool": "bogus", "arguments": {}}\n```',
        "Final answer using the search result.",
    ]
    calls = []

    def llm(system, user):
        calls.append(user)
        return responses[len(calls) - 1]

    def search(search_query):
        return f"results for {search_query}"

    out = run_tool_loop(llm, "sys", "question", {"google_search": search})
    assert out == "Final answer using the search result."
    # the tool result was fed back into the next llm turn
    assert "[tool google_search returned]\nresults for spark AQE" in calls[1]
    # unknown tool surfaced as an error, loop continued
    assert "error: unknown tool 'bogus'" in calls[2]
    # malformed tool_call JSON is treated as prose
    assert parse_tool_call("```tool_call\nnot json\n```") is None


def test_tool_loop_iteration_bound():
    from bambooai_spark.agent.tools import run_tool_loop

    loop_resp = '```tool_call\n{"tool": "t", "arguments": {}}\n```'
    n = [0]

    def llm(system, user):
        n[0] += 1
        return loop_resp

    out = run_tool_loop(llm, "sys", "q", {"t": lambda: "x"}, max_iters=3)
    assert out == loop_resp  # bound hit, last response returned
    assert n[0] == 4  # initial + 3 iterations


def test_sample_first_self_healing(spark):
    """SURVEY §4 sampling-injection: retries run on a cached sample; the
    full table is touched once, after code runs clean."""
    llm = _llm(BAD_CODE)  # fails once on the sample, corrected, promoted
    orch = AgentOrchestrator(spark, llm, sample_first=200)
    orders = load_table(spark, SF_DIR, "orders")
    res = orch.converse("Count orders per month in 1997", orders)
    assert res.ok and res.corrections == 1
    assert res.df.count() == 12  # result computed on FULL data, not sample
    rows = {r.order_month: r.order_count for r in res.df.collect()}
    full = {
        r.m: r.c
        for r in orders.filter(F.year("o_orderdate") == 1997)
        .groupBy(F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM").alias("m"))
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }
    assert rows == full


def test_executor_cancel_lifecycle(spark):
    import threading
    import time

    from bambooai_spark.executor import SparkCodeExecutor

    ex = SparkCodeExecutor()
    assert ex.cancel() is False  # nothing in flight
    orders = load_table(spark, SF_DIR, "orders")
    res = ex.execute("df = df.limit(3)", df=orders, spark=spark)
    assert res.ok
    assert ex.cancel() is False  # group cleared after execute returns

    # cancel a genuinely in-flight execution from another thread; the
    # aggregate over the 3.4e9-row cross product is real per-row work
    # (count() alone gets shortcut) and takes ~minutes uncancelled
    slow = (
        "big = df.crossJoin(df.select(F.col('o_orderkey').alias('k2')))"
        ".crossJoin(df.select(F.col('o_orderkey').alias('k3')))\n"
        # limit(1) keeps the sanitizer's collect guard happy; the aggregate
        # underneath still grinds through every row
        "print(big.agg(F.sum(F.hash('o_orderkey', 'k2', 'k3'))).limit(1).collect())\n"
    )
    out: dict = {}

    def run():
        out["res"] = ex.execute(slow, df=orders, spark=spark)

    t = threading.Thread(target=run)
    t.start()
    time.sleep(2.0)  # let the job actually launch
    deadline = time.time() + 60
    while t.is_alive() and time.time() < deadline:
        ex.cancel()  # cancels active jobs in the group; re-issue until dead
        time.sleep(0.25)
    t.join(timeout=10)
    assert not t.is_alive(), "cancel() failed to stop the execution"
    assert not out["res"].ok  # cancelled job surfaced as an execution error
    assert out["res"].df is orders  # rollback intact


# ---------------------------------------------------------------- overlapped
# side legs (bambooai_spark.session.overlapped): attributable, cancellable,
# drained on every exit


def _job_data(spark, job_id):
    return spark.sparkContext._jsc.sc().statusStore().job(job_id)


def _wait_for(cond, timeout=30.0):
    import time

    deadline = time.time() + timeout
    while not cond() and time.time() < deadline:
        time.sleep(0.05)
    return cond()


def test_overlapped_leg_joins_exec_group_and_cancels(spark):
    """A side leg started by generated code runs its job inside the
    execution's job group, described by its phase, so cancel() stops it."""
    import threading

    from bambooai_spark.executor import SparkCodeExecutor

    code = (
        "from bambooai_spark.session import overlapped\n"
        "big = spark.range(0, 1 << 40, numPartitions=8)\n"
        "def slow_leg():\n"
        "    return big.agg(F.sum(F.hash('id'))).limit(1).collect()\n"
        "with overlapped(spark, 'probe phase') as ov:\n"
        "    print(ov.submit(slow_leg).result())\n"
    )
    ex = SparkCodeExecutor()
    sc = spark.sparkContext
    out: dict = {}
    t = threading.Thread(
        target=lambda: out.setdefault("res", ex.execute(code, spark=spark))
    )
    t.start()
    try:
        group = {}

        def leg_jobs():
            group["id"] = group.get("id") or ex._job_group
            return group["id"] and list(
                sc.statusTracker().getJobIdsForGroup(group["id"])
            )

        jobs = _wait_for(leg_jobs)
        assert jobs, "the side leg's job is not in the execution's group"
        for j in jobs:
            desc = _job_data(spark, j).description()
            assert desc.isDefined() and desc.get() == "probe phase: slow_leg"

        def cancelled():
            ex.cancel()  # re-issued until the execution returns
            return not t.is_alive()

        assert _wait_for(cancelled), "cancel() failed to stop the side leg"
        assert not out["res"].ok
    finally:
        if t.is_alive():  # never leave the slow job grinding
            sc.cancelAllJobs()
            t.join(timeout=30)


def test_overlapped_failing_main_leg_cancels_side_leg(spark):
    """The main leg raises while a side leg's job runs: the with block is
    left within seconds (the job is cancelled by the scope's tag, not run
    to completion) and the main leg's exception is the one raised."""
    import threading
    import time

    from bambooai_spark.session import overlapped

    sc = spark.sparkContext
    big = spark.range(0, 1 << 40, numPartitions=8)

    def slow_leg():
        return big.agg(F.sum(F.hash("id"))).collect()

    out: dict = {}

    def main_leg():
        try:
            with overlapped(spark, "error path") as ov:
                ov.submit(slow_leg)
                assert _wait_for(
                    lambda: sc.statusTracker().getActiveJobsIds()
                )
                (job,) = sc.statusTracker().getActiveJobsIds()
                assert _job_data(spark, job).jobTags().contains(ov.tag)
                out["raised_at"] = time.time()
                raise RuntimeError("main leg failed")
        except BaseException as e:  # noqa: BLE001 - inspected below
            out["left_at"] = time.time()
            out["exc"] = e

    t = threading.Thread(target=main_leg)
    t.start()
    t.join(timeout=60)
    try:
        assert not t.is_alive(), "the with block waited for its side leg"
    finally:
        if t.is_alive():  # never leave the slow job grinding
            sc.cancelAllJobs()
            t.join(timeout=30)
    assert isinstance(out["exc"], RuntimeError), out["exc"]
    assert str(out["exc"]) == "main leg failed"
    assert out["left_at"] - out["raised_at"] < 10
    assert not sc.statusTracker().getActiveJobsIds()


def test_overlapped_raises_unconsumed_side_failure(spark):
    """A side-leg failure nobody read is raised when the block exits; one
    the main leg already consumed is not raised a second time."""
    from bambooai_spark.session import overlapped

    def bad_leg():
        raise ValueError("side leg failed")

    with pytest.raises(ValueError, match="side leg failed"):
        with overlapped(spark, "unconsumed") as ov:
            ov.submit(bad_leg)
    with overlapped(spark, "consumed") as ov:
        leg = ov.submit(bad_leg)
        with pytest.raises(ValueError, match="side leg failed"):
            leg.result()


# ---------------------------------------------------------------- episodic memory
# (reference bambooai.py:265-291 retrieve-before-plan + :655-670 rank-gated
# writes — EpisodicMemory over the same Spark operators as the graded specs)


def test_memory_retrieve_before_plan_short_circuits_planner(spark):
    """Second, similar question: the recalled record supplies the plan (no
    planner call) and seeds the codegen prompt with the past solution —
    result stays oracle-exact."""
    from bambooai_spark.agent.memory import EpisodicMemory

    orders = load_table(spark, SF_DIR, "orders")
    mem = EpisodicMemory(spark)
    mem.add(
        "mem-1",
        "count orders per month in 1997",
        plan="recalled: filter year, group by month",
        code=GOOD_CODE.strip("`pythn\n"),
        rank=9,
    )
    llm = _llm(GOOD_CODE)
    orch = AgentOrchestrator(spark, llm, memory=mem)
    res = orch.converse("Count the number of orders per month in 1997", orders)
    assert res.ok
    assert res.plan == "recalled: filter year, group by month"
    # planner never called
    assert not any("analysis plans" in s for s, _ in llm.calls)
    # codegen prompt carried the recalled example
    codegen_call = next(u for s, u in llm.calls if "write PySpark code" in s)
    assert "Example solution from a similar past task" in codegen_call
    assert res.df.count() == 12


def test_memory_miss_below_threshold_runs_planner(spark):
    """An unrelated stored intent scores below 0.8 — the planner runs."""
    from bambooai_spark.agent.memory import EpisodicMemory

    orders = load_table(spark, SF_DIR, "orders")
    mem = EpisodicMemory(spark)
    mem.add(
        "mem-1",
        "alpha bravo charlie delta echo foxtrot golf hotel",
        plan="unrelated plan",
        rank=9,
    )
    llm = _llm(GOOD_CODE)
    orch = AgentOrchestrator(spark, llm, memory=mem)
    res = orch.converse("Count the number of orders per month in 1997", orders)
    assert res.ok
    assert res.plan != "unrelated plan"
    assert any("analysis plans" in s for s, _ in llm.calls)


def test_memory_rank_gate_and_write_back(spark):
    """rank ≥ 6 answers are written back (reference qa_retrieval.py:160);
    low-ranked ones are not."""
    from bambooai_spark.agent.memory import EpisodicMemory

    orders = load_table(spark, SF_DIR, "orders")

    mem = EpisodicMemory(spark)
    orch = AgentOrchestrator(
        spark, _llm(GOOD_CODE), memory=mem, rank_fn=lambda r: 9
    )
    res = orch.converse("Count the number of orders per month in 1997", orders)
    assert res.ok and len(mem) == 1
    stored = mem.records.collect()[0]
    assert stored["intent"] == "count orders per month in 1997"
    assert "groupBy" in stored["code"]

    low = EpisodicMemory(spark)
    orch2 = AgentOrchestrator(
        spark, _llm(GOOD_CODE), memory=low, rank_fn=lambda r: 3
    )
    orch2.converse("Count the number of orders per month in 1997", orders)
    assert len(low) == 0


def test_memory_strong_match_dedup_keeps_higher_rank(spark):
    """Near-identical intents collapse at the 0.94 strong-match bar with the
    higher rank winning (reference qa_retrieval.py:162-200)."""
    from bambooai_spark.agent.memory import EpisodicMemory

    mem = EpisodicMemory(spark)
    mem.add("mem-1", "count orders per month in 1997", plan="old", rank=7)
    mem.add("mem-2", "count orders per month in 1997", plan="new", rank=9)
    rows = mem.records.collect()
    assert len(rows) == 1
    assert rows[0]["record_id"] == "mem-2" and rows[0]["plan"] == "new"
    # and the weaker duplicate is dropped, not merged
    mem.add("mem-3", "count orders per month in 1997", plan="weaker", rank=8)
    rows = mem.records.collect()
    assert len(rows) == 1 and rows[0]["record_id"] == "mem-2"


def _next_job(spark) -> int:
    """Job-id watermark: the id the next submitted Spark job will get."""
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


def _recalled_memory(spark, intent, rank=9):
    """A one-record memory whose last retrieve hit that very record."""
    from bambooai_spark.agent.memory import EpisodicMemory

    mem = EpisodicMemory(spark)
    mem.add("mem-1", intent, plan="the plan", code="df = df", rank=rank)
    assert mem.retrieve(intent).score == pytest.approx(1.0)
    return mem


def test_memory_recalled_readd_skips_the_merge(spark):
    """Re-adding the record a retrieve just recalled, at an equal or lower
    rank, is the MERGE's dropped branch: no Spark job, same table object,
    same rows."""
    intent = "count orders per month in 1997"
    mem = _recalled_memory(spark, intent)
    table = mem.records
    rows = table.collect()
    j0 = _next_job(spark)
    assert mem.add("mem-1", intent, plan="the plan", code="df = df", rank=9)
    assert mem.add("mem-9", intent, plan="weaker", rank=7)
    assert _next_job(spark) == j0
    assert mem.records is table and mem.records.collect() == rows


def test_memory_readd_merges_when_it_can_change_the_store(spark):
    """A higher rank replaces, an add after the table changed takes the
    MERGE path even for the recalled intent, and a first ask inserts."""
    intent = "count orders per month in 1997"
    mem = _recalled_memory(spark, intent)
    assert mem.add("mem-1", intent, plan="better", rank=10)
    [row] = mem.records.collect()
    assert (row["rank"], row["plan"]) == (10, "better")

    # the recalled top-1 was taken on the table the replace swapped out
    j0 = _next_job(spark)
    assert mem.add("mem-1", intent, plan="stale", rank=9)
    assert _next_job(spark) > j0
    assert [r["plan"] for r in mem.records.collect()] == ["better"]

    other = "alpha bravo charlie delta echo foxtrot golf hotel"
    assert mem.retrieve(other) is None  # below the recall gate
    assert mem.add("mem-2", other, plan="other", rank=9)
    assert sorted(r["plan"] for r in mem.records.collect()) == [
        "better", "other"
    ]


def test_memory_concurrent_adds_keep_both_records(spark):
    """Two threads adding distinct intents at once (the service hands one
    memory to every thread's orchestrator) lose neither record."""
    import threading
    from concurrent.futures import ThreadPoolExecutor

    from bambooai_spark.agent.memory import EpisodicMemory

    mem = EpisodicMemory(spark)
    start = threading.Barrier(2, timeout=60)
    intents = {
        "mem-a": "count orders per month in 1997",
        "mem-b": "alpha bravo charlie delta echo foxtrot golf hotel",
    }

    def add(rid):
        start.wait()
        return mem.add(rid, intents[rid], rank=9)

    with ThreadPoolExecutor(2) as pool:
        futures = [pool.submit(add, r) for r in intents]
        assert all(f.result(timeout=120) for f in futures)
    assert sorted(r["record_id"] for r in mem.records.collect()) == [
        "mem-a", "mem-b"
    ]


def test_context_profiled_once_per_frame_object(spark, monkeypatch):
    """A repeat turn on the same frame object runs no profile job and sends
    a byte-identical codegen prompt; a new frame object is re-profiled;
    the research route and clean user code never profile."""
    from bambooai_spark.agent import orchestrator

    jobs: list[int] = []
    real = orchestrator.dataframe_summary_to_string

    def counted(df):
        j0 = _next_job(spark)
        out = real(df)
        jobs.append(_next_job(spark) - j0)
        return out

    monkeypatch.setattr(orchestrator, "dataframe_summary_to_string", counted)
    orders = load_table(spark, SF_DIR, "orders")
    llm = _llm(GOOD_CODE)
    orch = AgentOrchestrator(spark, llm, planning=False, summarize=False)
    q = "Count the number of orders per month in 1997"
    assert orch.converse(q, orders).ok and orch.converse(q, orders).ok
    assert len(jobs) == 1 and jobs[0] > 0
    first, second = [c for c in llm.calls if "write PySpark code" in c[0]]
    assert first == second
    assert orch.converse(q, load_table(spark, SF_DIR, "orders")).ok
    assert len(jobs) == 2

    research = ScriptedLLM(
        {
            "route analytics questions": (
                "```yaml\nrequires_dataset: false\n"
                "expert: 'Research Specialist'\nconfidence: 8\n```"
            ),
            "Research Specialist": "Prose answer.",
        }
    )
    fresh = load_table(spark, SF_DIR, "orders")
    assert AgentOrchestrator(spark, research).converse("What is TPC-H?", fresh).ok
    clean = AgentOrchestrator(spark, llm, summarize=False)
    assert clean.run_user_code("df = df.limit(3)", fresh).ok
    assert len(jobs) == 2


# ---------------------------------------------------------------- user code
# (reference bambooai.py:616-623 — lifecycle entry 3: user-authored code
# skips routing/planning/codegen; first failure gets the dedicated
# edited-code corrector, :829-833)


def test_run_user_code_skips_routing_and_commits(spark):
    llm = _llm(GOOD_CODE)
    orch = AgentOrchestrator(spark, llm)
    orders = load_table(spark, SF_DIR, "orders")
    code = (
        "df = (df.filter(F.year('o_orderdate') == 1997)\n"
        "        .groupBy(F.date_format(F.date_trunc('month', 'o_orderdate'),"
        " 'yyyy-MM').alias('order_month'))\n"
        "        .agg(F.count(F.lit(1)).alias('order_count')))\n"
    )
    res = orch.run_user_code(code, orders, question="orders per month")
    assert res.ok and res.expert == "User" and res.plan is None
    assert res.corrections == 0
    assert res.df.count() == 12
    # no routing / planner / codegen calls — only the summarizer ran
    assert all("Summarize" in s for s, _ in llm.calls)
    assert res.summary is not None


def test_run_user_code_first_failure_uses_edited_corrector(spark):
    llm = ScriptedLLM(
        {
            "user's OWN PySpark code failed": GOOD_CODE,
            "Summarize the analysis": "fixed and summarized",
        }
    )
    orch = AgentOrchestrator(spark, llm)
    orders = load_table(spark, SF_DIR, "orders")
    res = orch.run_user_code(
        "df = df.groupBy(F.col('no_such_col')).count()", orders
    )
    assert res.ok and res.corrections == 1
    assert len(res.errors) == 1 and "no_such_col" in res.errors[0]
    # the dedicated prompt carried the user's original code
    sys_p, user_p = llm.calls[0]
    assert "OWN PySpark code" in sys_p
    assert "no_such_col" in user_p
    assert res.df.count() == 12
    assert res.summary == "fixed and summarized"


# ---------------------------------------------------------------- pruning
# (reference messages/message_manager.py:6-180 + messages/reg_ex.py:233-244)


def test_message_window_is_two_max_minus_one():
    from bambooai_spark.agent.messages import MessageManager

    mm = MessageManager(max_conversations=4)
    assert mm.max_messages == 7
    msgs = [{"role": "system", "content": "sys"}]
    for i in range(6):
        msgs.append({"role": "user", "content": f"q{i}"})
        msgs.append({"role": "assistant", "content": f"a{i}"})
    mm.maintain(msgs)
    assert len(msgs) == 7
    assert msgs[0]["content"] == "sys"  # system message always survives
    # the oldest exchanges were dropped, the newest kept
    assert msgs[1]["content"] == "q3" and msgs[-1]["content"] == "a5"


def test_maintain_drops_tool_messages():
    from bambooai_spark.agent.messages import MessageManager

    msgs = [
        {"role": "system", "content": "sys"},
        {"role": "user", "content": "q"},
        {"role": "assistant", "content": "a", "tool_calls": [{"id": "t1"}]},
        {"role": "tool", "content": "result"},
        {"role": "assistant", "content": "a2"},
    ]
    MessageManager().maintain(msgs)
    assert [m["content"] for m in msgs] == ["sys", "q", "a2"]


def test_qa_pairs_trim_to_eight():
    from bambooai_spark.agent.messages import MessageManager

    mm = MessageManager()
    for i in range(12):
        mm.append_qa_pair(f"task {i}", f"result {i}")
    text = mm.format_qa_pairs()
    assert len(mm.qa_pairs) == 8  # persistent trim, like the reference
    assert "task 4" in text and "task 11" in text and "task 3" not in text
    assert text.startswith("Previous Analyses:")
    assert MessageManager().format_qa_pairs() == "No previous analyses."


def test_qa_custom_operations_replace_not_accumulate():
    from bambooai_spark.agent.messages import CUSTOM_IDENTIFIERS, MessageManager

    mm = MessageManager()
    mm.append_qa_pair("normal task", "r1")
    mm.append_qa_pair(CUSTOM_IDENTIFIERS[1], "edited run 1")
    mm.append_qa_pair(CUSTOM_IDENTIFIERS[1], "edited run 2")
    tasks = [p["task"] for p in mm.qa_pairs]
    assert tasks == ["normal task", CUSTOM_IDENTIFIERS[1]]
    assert mm.qa_pairs[-1]["result"] == "edited run 2"


def test_remove_examples_strips_python_blocks_from_user_messages():
    from bambooai_spark.agent.messages import remove_examples

    msgs = [
        {"role": "system", "content": "EXAMPLE OUTPUT:\n```python\nx=1\n``` keep"},
        {
            "role": "user",
            "content": "Task: foo\nEXAMPLE OUTPUT:\n```python\ndf=df\n```\nrest",
        },
    ]
    remove_examples(msgs)
    assert msgs[0]["content"].startswith("EXAMPLE OUTPUT")  # system untouched
    assert "EXAMPLE OUTPUT" not in msgs[1]["content"]
    assert msgs[1]["content"] == "Task: foo\nrest"


def test_converse_records_qa_history(spark):
    orders = load_table(spark, SF_DIR, "orders")
    orch = AgentOrchestrator(spark, _llm(GOOD_CODE))
    orch.converse("Count the number of orders per month in 1997", orders)
    assert len(orch.messages.qa_pairs) == 1
    assert orch.messages.qa_pairs[0]["task"] == "count orders per month in 1997"


def test_converse_with_aux_dataset_join(spark, tmp_path):
    """Aux datasets reach the sandbox (aux[...] vars + temp views) and the
    prompt context carries their previews, so generated code can execute
    the data model's links_for_merge joins (reference
    default_prompts.yaml:1329-1335)."""
    aux_csv = tmp_path / "priorities.csv"
    aux_csv.write_text(
        "o_orderpriority,weight\n"
        "1-URGENT,5\n2-HIGH,4\n3-MEDIUM,3\n4-NOT SPECIFIED,2\n5-LOW,1\n"
    )
    join_code = (
        "```python\n"
        "df = (df.join(aux['aux_priorities'], 'o_orderpriority')\n"
        "        .groupBy('o_orderpriority', 'weight')\n"
        "        .agg(F.count(F.lit(1)).alias('n'))\n"
        "        .orderBy('o_orderpriority'))\n"
        "```"
    )
    llm = _llm(join_code)
    orch = AgentOrchestrator(spark, llm)
    orders = load_table(spark, SF_DIR, "orders")
    res = orch.converse(
        "How many orders per priority, weighted?",
        orders,
        aux_datasets=[str(aux_csv)],
    )
    assert res.ok, res.errors
    rows = res.df.collect()
    assert len(rows) == 5 and {r["weight"] for r in rows} == {1, 2, 3, 4, 5}
    # the codegen context advertised the aux table and previewed it
    codegen_call = next(u for s, u in llm.calls if "write PySpark code" in s)
    sys_call = next(s for s, u in llm.calls if "write PySpark code" in s)
    assert "aux_priorities" in sys_call and "links_for_merge" in sys_call
    # and the temp view is queryable too
    assert spark.sql("SELECT COUNT(*) FROM aux_priorities").collect()[0][0] == 5


# ---------------------------------------------------------------- session
# (reference bambooai.py:495-552 — thread/chain lifecycle with restore)


def test_session_persists_and_restores_chains(spark, tmp_path):
    from bambooai_spark.agent.session import AgentSession
    from bambooai_spark.storage import InteractionStore

    orders = load_table(spark, SF_DIR, "orders")
    store = InteractionStore(str(tmp_path))

    s1 = AgentSession(AgentOrchestrator(spark, _llm(GOOD_CODE)), store,
                      thread_id="t1")
    res = s1.ask("Count the number of orders per month in 1997", orders)
    assert res.ok
    rec = store.load_chain("t1", "1")
    assert rec["intent"] == "count orders per month in 1997"
    assert "groupBy" in rec["executed_code"] and rec["ok"]
    assert len(rec["qa_pairs"]) == 1

    # a fresh session on the same thread continues chain numbering and can
    # branch from the stored chain's QA state
    s2 = AgentSession(AgentOrchestrator(spark, _llm(GOOD_CODE)), store,
                      thread_id="t1")
    assert s2.restore("1")
    assert s2.orch.messages.qa_pairs[0]["task"] == (
        "count orders per month in 1997"
    )
    assert s2.tasks == ["count orders per month in 1997"]
    assert not s2.restore("99")
    s2.reset()
    assert s2.orch.messages.qa_pairs == [] and s2.tasks == []


def test_session_tolerates_non_numeric_chain_ids(spark, tmp_path):
    """A thread holding reference-style wall-clock or caller-chosen string
    chain ids must still construct; the dense counter continues from the
    max NUMERIC id."""
    from bambooai_spark.agent.session import AgentSession
    from bambooai_spark.storage import InteractionStore

    orders = load_table(spark, SF_DIR, "orders")
    store = InteractionStore(str(tmp_path))
    store.save_chain("tmix", "2026-01-09T12:00:00", {"ok": True})
    store.save_chain("tmix", "my-branch", {"ok": True})
    store.save_chain("tmix", "3", {"ok": True})
    s = AgentSession(AgentOrchestrator(spark, _llm(GOOD_CODE)), store,
                     thread_id="tmix")
    res = s.ask("Count the number of orders per month in 1997", orders)
    assert res.ok
    assert store.load_chain("tmix", "4")["ok"]


def test_session_user_code_chain_marked(spark, tmp_path):
    from bambooai_spark.agent.session import AgentSession
    from bambooai_spark.storage import InteractionStore

    orders = load_table(spark, SF_DIR, "orders")
    store = InteractionStore(str(tmp_path))
    s = AgentSession(AgentOrchestrator(spark, _llm(GOOD_CODE)), store,
                     thread_id="t2")
    res = s.run_user_code("df = df.limit(7)", orders)
    assert res.ok and res.df.count() == 7
    rec = store.load_chain("t2", "1")
    assert rec["code_type"] == "user" and rec["plan"] is None


def test_memory_save_load_roundtrip(spark, tmp_path):
    """Memory persists as one parquet table and recalls after reload —
    the vector store's restart durability, Spark-native."""
    from bambooai_spark.agent.memory import EpisodicMemory

    mem = EpisodicMemory(spark)
    mem.add("mem-1", "count orders per month in 1997", plan="the plan", rank=9)
    path = str(tmp_path / "memstore")
    mem.save(path)
    back = EpisodicMemory.load(spark, path)
    hit = back.retrieve("count orders per month in 1997")
    assert hit is not None and hit.plan == "the plan" and hit.rank == 9


def test_image_input_reaches_llm_and_alters_code_path(spark):
    """An attached base64 image travels to the routing/planning/codegen LLM
    calls as a structured part (reference web_app/app.py:927-945 forwards
    the /query image to vision-capable models) and can steer the generated
    code; without an image the user payload stays a plain string."""
    IMG_CODE = "```python\ndf = df.limit(3)\n```"
    seen_payloads = []

    def llm(system, user):
        seen_payloads.append(user)
        has_image = isinstance(user, list) and any(
            isinstance(p, dict) and p.get("type") == "image" for p in user
        )
        if "route analytics questions" in system:
            return EXPERT_DA
        if "classify dataset questions" in system:
            return ANALYST
        if "analysis plans" in system:
            return PLAN
        if "write PySpark code" in system:
            return IMG_CODE if has_image else GOOD_CODE
        if "Summarize the analysis" in system:
            return "done"
        raise AssertionError(system[:60])

    orders = load_table(spark, SF_DIR, "orders")
    res = AgentOrchestrator(spark, llm).converse(
        "Reproduce the aggregation shown in this chart", orders,
        image="aW1hZ2VieXRlcw==",
    )
    assert res.ok and "limit(3)" in res.code
    img_parts = [
        p
        for u in seen_payloads
        if isinstance(u, list)
        for p in u
        if p.get("type") == "image"
    ]
    assert img_parts and all(p["data"] == "aW1hZ2VieXRlcw==" for p in img_parts)

    seen_payloads.clear()
    res2 = AgentOrchestrator(spark, llm).converse("Count orders per month in 1997", orders)
    assert "groupBy" in res2.code
    assert all(isinstance(u, str) for u in seen_payloads)


# ------------------------------------------------ calculator + search fallback
# (reference google_search.py:40-90 SmartSearchOrchestrator actions,
# :301-366 GeminiSearch alternative backend, :370-377 Calculator)


def test_safe_calculate_whitelist():
    from bambooai_spark.agent.tools import safe_calculate

    assert safe_calculate("(17.5*4)/3") == str((17.5 * 4) / 3)
    assert safe_calculate("2**10") == "1024"
    assert safe_calculate("sqrt(144) + abs(-6)") == "18.0"
    assert safe_calculate("round(pi, 2)") == "3.14"
    assert safe_calculate("-3 % 5") == "2"
    # the reference's bare eval would execute all of these; the AST
    # whitelist rejects them with an error STRING (contract: never raises)
    assert "whitelisted" in safe_calculate("__import__('os').system('id')")
    assert "unknown name" in safe_calculate("x + 1")
    assert "whitelisted" in safe_calculate("(lambda: 1)()")
    assert "disallowed" in safe_calculate("[1,2][0]")
    assert "exponent out of range" in safe_calculate("9**9**9")
    assert "division by zero" in safe_calculate("1/0")
    assert safe_calculate("min(3, 2, max(1, 0))") == "1"


def test_safe_calculate_contains_nested_pow_blowup():
    """The per-pow exponent cap alone is defeated by left-nested pows —
    every exponent is legal but the value explodes; the intermediate
    bit-size cap must refuse it quickly instead of grinding/OOMing."""
    import time

    from bambooai_spark.agent.tools import safe_calculate

    t0 = time.monotonic()
    out = safe_calculate("(((2**1000)**1000)**1000)**1000")
    assert "exceeds" in out
    assert time.monotonic() - t0 < 1.0
    # big-int multiplication chains are bounded the same way
    assert "exceeds" in safe_calculate("(2**1000) * (2**1000) * (2**1000) "
                                       "* (2**1000) * (2**1000)")
    # legitimate large-but-bounded results still compute
    assert safe_calculate("2**1000") == str(2**1000)


def test_tool_loop_calculate_action_line_and_fenced():
    """calculate is available without registration, via BOTH syntaxes:
    the reference's 'Action: calculate: <expr>' line and the fenced
    tool_call JSON."""
    from bambooai_spark.agent.tools import run_tool_loop

    responses = [
        "Thought: I should compute this.\nAction: calculate: (4+5)*2",
        '```tool_call\n{"tool": "calculate",'
        ' "arguments": {"expression": "18/3"}}\n```',
        "The answer is 18 then 6.0.",
    ]
    seen = []

    def llm(system, user):
        seen.append(user)
        return responses[len(seen) - 1]

    out = run_tool_loop(llm, "sys", "Q", {})
    assert out == "The answer is 18 then 6.0."
    assert "[tool calculate returned]\n18" in seen[1]
    assert "[tool calculate returned]\n6.0" in seen[2]


def test_tool_loop_grounded_search_fallback():
    """A raising google_search falls back to the registered grounded_search
    backend with the same query — one dispatch, two backends (reference
    WEB_SEARCH_MODE switch)."""
    from bambooai_spark.agent.tools import run_tool_loop

    def broken_search(search_query):
        raise RuntimeError("quota exhausted")

    def grounded(search_query):
        return f"grounded result for {search_query}"

    responses = [
        '```tool_call\n{"tool": "google_search",'
        ' "arguments": {"search_query": "spark aqe"}}\n```',
        "Answer from grounded search.",
    ]
    seen = []

    def llm(system, user):
        seen.append(user)
        return responses[len(seen) - 1]

    out = run_tool_loop(
        llm, "sys", "Q",
        {"google_search": broken_search, "grounded_search": grounded},
    )
    assert out == "Answer from grounded search."
    assert "[tool grounded_search returned]\ngrounded result for spark aqe" in seen[1]


def test_tool_loop_search_failure_without_fallback_reports_error():
    from bambooai_spark.agent.tools import run_tool_loop

    def broken_search(search_query):
        raise RuntimeError("quota exhausted")

    responses = [
        '```tool_call\n{"tool": "google_search",'
        ' "arguments": {"search_query": "x"}}\n```',
        "Could not search.",
    ]
    seen = []

    def llm(system, user):
        seen.append(user)
        return responses[len(seen) - 1]

    out = run_tool_loop(llm, "sys", "Q", {"google_search": broken_search})
    assert out == "Could not search."
    assert "error: google_search failed: quota exhausted" in seen[1]


def test_tool_loop_survives_both_search_backends_failing():
    """primary raises AND the grounded fallback raises: the loop must feed
    an error result back to the LLM (like any tool failure), not abort the
    whole chain with an exception."""
    from bambooai_spark.agent.tools import run_tool_loop

    def broken(search_query):
        raise RuntimeError("primary down")

    def broken_grounded(search_query):
        raise RuntimeError("fallback down too")

    responses = [
        '```tool_call\n{"tool": "google_search",'
        ' "arguments": {"search_query": "x"}}\n```',
        "Both backends failed; answering from prior knowledge.",
    ]
    seen = []

    def llm(system, user):
        seen.append(user)
        return responses[len(seen) - 1]

    out = run_tool_loop(
        llm, "sys", "Q",
        {"google_search": broken, "grounded_search": broken_grounded},
    )
    assert out == "Both backends failed; answering from prior knowledge."
    assert "error: grounded_search failed: fallback down too" in seen[1]


# -------------------------------------------------- provider adapter seam
# (reference bambooai/models/*.py — proven against the public OpenAI
# chat-completions wire format with a recorded fixture, no network)

OPENAI_FIXTURE = {
    "id": "chatcmpl-fixture",
    "object": "chat.completion",
    "model": "gpt-4o-mini",
    "choices": [
        {
            "index": 0,
            "message": {"role": "assistant",
                        "content": "```python\ndf = df.limit(2)\n```"},
            "finish_reason": "stop",
        }
    ],
    "usage": {"prompt_tokens": 42, "completion_tokens": 12},
}


def test_openai_adapter_wire_contract():
    from bambooai_spark.agent.providers import openai_adapter

    sent = []

    def fake_transport(body):
        sent.append(body)
        return OPENAI_FIXTURE

    llm = openai_adapter(model="gpt-4o-mini", transport=fake_transport)
    out = llm("You write PySpark code.", "Limit df to 2 rows")
    assert out == "```python\ndf = df.limit(2)\n```"
    [body] = sent
    assert body["model"] == "gpt-4o-mini"
    assert body["messages"][0] == {
        "role": "system", "content": "You write PySpark code."
    }
    assert body["messages"][1] == {
        "role": "user", "content": "Limit df to 2 rows"
    }

    # structured image parts map to the provider's data-URL content array
    llm(
        "sys",
        [
            {"type": "text", "text": "what is in this chart?"},
            {"type": "image", "data": "QUJD"},
        ],
    )
    content = sent[-1]["messages"][1]["content"]
    assert content[0] == {"type": "text", "text": "what is in this chart?"}
    assert content[1]["type"] == "image_url"
    assert content[1]["image_url"]["url"] == "data:image/png;base64,QUJD"


def test_openai_adapter_drives_full_agent_loop(spark):
    """The adapter IS a valid engine LLM: a transport that routes on the
    system prompt (standing in for the real model) drives the whole
    orchestrator pipeline through the wire format."""
    from bambooai_spark.agent.providers import openai_adapter

    def respond(text):
        return {"choices": [{"message": {"role": "assistant",
                                         "content": text}}]}

    def routing_transport(body):
        system = body["messages"][0]["content"]
        if "route analytics questions" in system:
            return respond(EXPERT_DA)
        if "classify dataset questions" in system:
            return respond(ANALYST)
        if "analysis plans" in system:
            return respond(PLAN)
        if "write PySpark code" in system:
            return respond(GOOD_CODE)
        if "Summarize the analysis" in system:
            return respond("Computed.")
        raise AssertionError(system[:60])

    llm = openai_adapter(transport=routing_transport)
    orders = load_table(spark, SF_DIR, "orders")
    res = AgentOrchestrator(spark, llm).converse(
        "Count orders per month in 1997", orders
    )
    assert res.ok and res.df.count() == 12


def test_alpaca_conversion_matches_reference_rules():
    """convert_messages_to_alpaca reproduces the reference's in-process
    prompt rewrite (models/local_models.py:16-40): system verbatim, user
    as '### Instruction:', assistant as '### Response:', the Example
    Output tail stripped, and a trailing user turn completed with an
    empty response marker."""
    from bambooai_spark.agent.providers import convert_messages_to_alpaca

    got = convert_messages_to_alpaca(
        [
            {"role": "system", "content": "You write PySpark code."},
            {"role": "user", "content": "Count rows"},
            {"role": "assistant", "content": "df.count()"},
            {"role": "user", "content": "Now limit to 3"},
        ]
    )
    assert got == (
        "You write PySpark code.\n"
        "### Instruction: Count rows\n"
        "### Response: df.count()\n"
        "### Instruction: Now limit to 3\n"
        "### Response:\n"
    )
    # Example Output and EVERYTHING after it is stripped (the reference
    # found the model interprets example code instead of generating)
    got = convert_messages_to_alpaca(
        [
            {"role": "system", "content": "sys"},
            {
                "role": "user",
                "content": "Task.\nExample Output:\n```python\nx\n```",
            },
        ]
    )
    assert "Example Output" not in got and "```" not in got
    assert got.startswith("sys\n### Instruction: Task.")
    # ending on an assistant turn adds no empty response marker
    got = convert_messages_to_alpaca(
        [
            {"role": "user", "content": "q"},
            {"role": "assistant", "content": "a"},
        ]
    )
    assert not got.endswith("### Response:\n") or got.endswith(
        "### Response: a\n"
    )


def test_transformers_local_adapter_contract():
    """The in-process provider is a valid engine LLM against an injected
    pipeline (the transformers import never happens): the prompt reaching
    the pipeline is the Alpaca conversion, multimodal parts degrade to
    their text, and without an injected pipeline the missing-dependency
    error points at the endpoint alternative."""
    import pytest as _pytest

    from bambooai_spark.agent.providers import transformers_local_adapter

    prompts = []

    def fake_pipe(prompt):
        prompts.append(prompt)
        return [{"generated_text": "```python\ndf = df.limit(2)\n```"}]

    llm = transformers_local_adapter(pipe=fake_pipe)
    out = llm("You write PySpark code.", "Limit df to 2 rows")
    assert out == "```python\ndf = df.limit(2)\n```"
    assert prompts[-1] == (
        "You write PySpark code.\n"
        "### Instruction: Limit df to 2 rows\n"
        "### Response:\n"
    )
    llm(
        "sys",
        [
            {"type": "text", "text": "what is in this chart?"},
            {"type": "image", "data": "QUJD"},
        ],
    )
    assert "what is in this chart?" in prompts[-1]
    assert "QUJD" not in prompts[-1]  # image bytes never reach the prompt

    # no injected pipe + no transformers installed → actionable error
    bare = transformers_local_adapter()
    with _pytest.raises(RuntimeError, match="local_adapter"):
        bare("sys", "user")


def test_anthropic_adapter_wire_contract():
    from bambooai_spark.agent.providers import anthropic_adapter

    sent = []

    def fake_transport(body):
        sent.append(body)
        return {
            "content": [
                {"type": "text", "text": "```python\ndf = df.limit(2)\n```"}
            ],
            "usage": {"input_tokens": 42, "output_tokens": 12},
        }

    llm = anthropic_adapter(model="claude-test", transport=fake_transport)
    out = llm("You write PySpark code.", "Limit df to 2 rows")
    assert out == "```python\ndf = df.limit(2)\n```"
    [body] = sent
    # system is a TOP-LEVEL field in the Messages contract, never a message
    assert body["system"] == "You write PySpark code."
    assert body["model"] == "claude-test"
    assert body["max_tokens"] == 4096
    assert body["messages"] == [
        {"role": "user", "content": "Limit df to 2 rows"}
    ]

    # image parts become base64 source blocks
    llm(
        "sys",
        [
            {"type": "text", "text": "what is in this chart?"},
            {"type": "image", "data": "QUJD"},
        ],
    )
    content = sent[-1]["messages"][0]["content"]
    assert content[0] == {"type": "text", "text": "what is in this chart?"}
    assert content[1] == {
        "type": "image",
        "source": {
            "type": "base64",
            "media_type": "image/png",
            "data": "QUJD",
        },
    }


def test_anthropic_adapter_skips_non_text_blocks():
    from bambooai_spark.agent.providers import anthropic_adapter

    llm = anthropic_adapter(
        transport=lambda body: {
            "content": [
                {"type": "thinking", "thinking": "..."},
                {"type": "text", "text": "answer"},
            ]
        }
    )
    assert llm("s", "u") == "answer"


def test_gemini_adapter_wire_contract():
    from bambooai_spark.agent.providers import gemini_adapter

    sent = []

    def fake_transport(body):
        sent.append(body)
        return {
            "candidates": [
                {"content": {"parts": [{"text": "hello "}, {"text": "world"}],
                             "role": "model"}}
            ]
        }

    llm = gemini_adapter(transport=fake_transport)
    out = llm("You write PySpark code.", "Limit df to 2 rows")
    assert out == "hello world"  # multi-part text concatenates
    [body] = sent
    assert body["system_instruction"] == {
        "parts": [{"text": "You write PySpark code."}]
    }
    assert body["contents"] == [
        {"role": "user", "parts": [{"text": "Limit df to 2 rows"}]}
    ]

    llm("sys", [{"type": "text", "text": "chart?"},
                {"type": "image", "data": "QUJD"}])
    parts = sent[-1]["contents"][0]["parts"]
    assert parts[0] == {"text": "chart?"}
    assert parts[1] == {
        "inline_data": {"mime_type": "image/png", "data": "QUJD"}
    }


def test_ollama_adapter_speaks_openai_contract():
    from bambooai_spark.agent.providers import ollama_adapter

    sent = []
    llm = ollama_adapter(
        model="llama3.1",
        transport=lambda body: sent.append(body)
        or OPENAI_FIXTURE,
    )
    out = llm("sys", "user msg")
    assert out == "```python\ndf = df.limit(2)\n```"
    assert sent[0]["model"] == "llama3.1"
    assert sent[0]["messages"][0]["role"] == "system"


# Two distinct recorded response fixtures for the OpenAI-wire family —
# providers differ in metadata fields but share the choices contract.
DEEPSEEK_FIXTURE = {
    "id": "ds-fixture",
    "object": "chat.completion",
    "model": "deepseek-chat",
    "choices": [
        {
            "index": 0,
            "message": {"role": "assistant", "content": "42 rows"},
            "finish_reason": "stop",
        }
    ],
    "usage": {
        "prompt_tokens": 10,
        "completion_tokens": 3,
        "prompt_cache_hit_tokens": 0,  # deepseek-specific usage fields
        "prompt_cache_miss_tokens": 10,
    },
}
OPENROUTER_FIXTURE = {
    "id": "gen-fixture",
    "provider": "SomeUpstream",  # openrouter-specific passthrough field
    "model": "openrouter/auto",
    "object": "chat.completion",
    "choices": [
        {
            "index": 0,
            "message": {"role": "assistant", "content": "ok: routed"},
            "finish_reason": "stop",
            "native_finish_reason": "stop",
        }
    ],
}


def test_openai_compatible_family_wire_contract():
    """Every reference OpenAI-wire variant (deepseek/groq/mistral/
    openrouter/vllm/local, models/*_models.py) speaks the same
    request/response contract through the parameterized factory — each
    checked against a recorded fixture."""
    from bambooai_spark.agent import providers as P

    cases = [
        (P.deepseek_adapter, "deepseek-chat", DEEPSEEK_FIXTURE, "42 rows"),
        (P.groq_adapter, "llama-3.3-70b-versatile", OPENAI_FIXTURE,
         "```python\ndf = df.limit(2)\n```"),
        (P.mistral_adapter, "mistral-large-latest", DEEPSEEK_FIXTURE,
         "42 rows"),
        (P.openrouter_adapter, "openrouter/auto", OPENROUTER_FIXTURE,
         "ok: routed"),
        (P.vllm_adapter, "default", OPENAI_FIXTURE,
         "```python\ndf = df.limit(2)\n```"),
        (P.local_adapter, "local", OPENROUTER_FIXTURE, "ok: routed"),
        (P.gemini_openai_adapter, "gemini-2.0-flash", OPENAI_FIXTURE,
         "```python\ndf = df.limit(2)\n```"),
    ]
    for factory, model, fixture, expect in cases:
        sent = []
        llm = factory(transport=lambda b, _s=sent, _f=fixture: _s.append(b) or _f)
        assert llm("sys prompt", "user msg") == expect, factory.__name__
        [body] = sent
        assert body["model"] == model
        assert body["messages"][0] == {"role": "system", "content": "sys prompt"}
        assert body["messages"][1] == {"role": "user", "content": "user msg"}


def test_gemini_openai_adapter_endpoint_and_key(monkeypatch):
    """The gemini-over-OpenAI-wire variant (reference
    models/gemini_models_openai.py:12-19) hits Google's OpenAI-compat
    endpoint with GEMINI_API_KEY as the bearer token — recorded-transport
    check of URL, auth header, and body shape."""
    import io
    import json as _json
    import urllib.request

    from bambooai_spark.agent.providers import gemini_openai_adapter

    seen = []

    def fake_urlopen(req, timeout=0):
        seen.append(req)
        return io.BytesIO(_json.dumps(OPENAI_FIXTURE).encode())

    monkeypatch.setattr(urllib.request, "urlopen", fake_urlopen)
    monkeypatch.setenv("GEMINI_API_KEY", "g-key")
    monkeypatch.delenv("GEMINI_OPENAI_BASE_URL", raising=False)

    out = gemini_openai_adapter()("sys", "user msg")
    assert out == "```python\ndf = df.limit(2)\n```"
    [req] = seen
    assert req.full_url == (
        "https://generativelanguage.googleapis.com/v1beta/openai/"
        "chat/completions"
    )
    assert req.get_header("Authorization") == "Bearer g-key"
    body = _json.loads(req.data.decode())
    assert body["model"] == "gemini-2.0-flash"
    assert body["messages"][1] == {"role": "user", "content": "user msg"}

    # missing key fails loudly, reference init() returns None → crash;
    # here it's an explicit error
    monkeypatch.delenv("GEMINI_API_KEY")
    with pytest.raises(RuntimeError, match="GEMINI_API_KEY"):
        gemini_openai_adapter()("sys", "u")


def test_openai_compatible_auth_header_policy(monkeypatch):
    """Default-transport header policy: explicit api_key wins over the
    env var; a missing required env var raises; keyless endpoints send no
    Authorization; extra_headers ride along."""
    import io
    import json as _json
    import urllib.request

    from bambooai_spark.agent.providers import openai_compatible_adapter

    seen = []

    def fake_urlopen(req, timeout=0):
        seen.append(req)
        return io.BytesIO(_json.dumps(OPENAI_FIXTURE).encode())

    monkeypatch.setattr(urllib.request, "urlopen", fake_urlopen)

    openai_compatible_adapter(
        "http://h/v1/chat/completions", model="m", api_key="sk-explicit",
        api_key_env="NOPE_KEY", extra_headers={"X-Title": "bambooai"},
    )("s", "u")
    assert seen[-1].get_header("Authorization") == "Bearer sk-explicit"
    assert seen[-1].get_header("X-title") == "bambooai"

    monkeypatch.setenv("SOME_PROVIDER_KEY", "sk-env")
    openai_compatible_adapter(
        "http://h/v1/chat/completions", model="m",
        api_key_env="SOME_PROVIDER_KEY",
    )("s", "u")
    assert seen[-1].get_header("Authorization") == "Bearer sk-env"

    openai_compatible_adapter("http://h/v1/chat/completions", model="m")("s", "u")
    assert seen[-1].get_header("Authorization") is None

    monkeypatch.delenv("MISSING_KEY", raising=False)
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="MISSING_KEY"):
        openai_compatible_adapter(
            "http://h/v1/chat/completions", model="m",
            api_key_env="MISSING_KEY",
        )("s", "u")


def test_anthropic_adapter_drives_full_agent_loop(spark):
    """Provider-agnostic seam proof #2: the Anthropic wire shape drives
    the same orchestrator pipeline the OpenAI one does."""
    from bambooai_spark.agent.providers import anthropic_adapter

    def respond(text):
        return {"content": [{"type": "text", "text": text}]}

    def routing_transport(body):
        system = body["system"]
        if "route analytics questions" in system:
            return respond(EXPERT_DA)
        if "classify dataset questions" in system:
            return respond(ANALYST)
        if "analysis plans" in system:
            return respond(PLAN)
        if "write PySpark code" in system:
            return respond(GOOD_CODE)
        if "Summarize the analysis" in system:
            return respond("Computed.")
        raise AssertionError(system[:60])

    llm = anthropic_adapter(transport=routing_transport)
    orders = load_table(spark, SF_DIR, "orders")
    res = AgentOrchestrator(spark, llm).converse(
        "Count orders per month in 1997", orders
    )
    assert res.ok and res.df.count() == 12


@pytest.mark.skipif(
    not os.environ.get("BAMBOOAI_SPARK_LIVE_LLM"),
    reason="live-provider integration needs BAMBOOAI_SPARK_LIVE_LLM + key",
)
def test_openai_adapter_live():  # pragma: no cover - network
    from bambooai_spark.agent.providers import openai_adapter

    out = openai_adapter()("Reply with the single word OK.", "ping")
    assert "OK" in out


# ------------------------------------------------- BambooAI facade surface
# (reference bambooai/bambooai.py:10-552 — the user-facing class; a
# reference user switches by importing bambooai_spark.BambooAI)


def test_bambooai_facade_reference_surface(spark, tmp_path):
    from bambooai_spark import BambooAI

    llm = ScriptedLLM(
        {
            "route analytics questions": EXPERT_DA,
            "classify dataset questions": ANALYST,
            "analysis plans": PLAN,
            "write PySpark code": GOOD_CODE,
            "Summarize the analysis": "Computed.",
        }
    )
    orders = load_table(spark, SF_DIR, "orders")
    bamboo = BambooAI(
        orders, llm=llm, planning=True, store_dir=str(tmp_path / "threads")
    )
    res = bamboo.pd_agent_converse("Count orders per month in 1997")
    assert res.ok and res.df.count() == 12
    # mutated-table semantics: the facade adopted the result df
    assert bamboo.df is res.df
    assert bamboo.thread_id is not None and bamboo.chain_id == "1"

    # user-code turn on the (mutated) current df
    res2 = bamboo.pd_agent_converse(user_code="df = df.limit(3)")
    assert res2.ok and res2.df.count() == 3 and bamboo.chain_id == "2"

    # branch from chain 1: restore then run user code against it
    res3 = bamboo.pd_agent_converse(
        user_code="df = df.limit(5)", chain_id="1"
    )
    assert res3.ok and bamboo.chain_id == "3"

    # reset clears state; next converse starts a new thread
    assert bamboo.pd_agent_converse(action="reset") is None
    assert bamboo.thread_id is None and bamboo.chain_id is None


def test_bambooai_facade_ontology_path(spark, tmp_path):
    """df_ontology takes a file path (reference semantics) whose text
    reaches the inspector prompt."""
    from bambooai_spark import BambooAI

    onto = tmp_path / "model.ttl"
    onto.write_text(":orders a :Dataframe .")
    llm = ScriptedLLM(
        {
            "route analytics questions": EXPERT_DA,
            "classify dataset questions": ANALYST,
            "data model": "```yaml\ndata_hierarchy: orders\n```",
            "analysis plans": PLAN,
            "write PySpark code": GOOD_CODE,
            "Summarize the analysis": "Computed.",
        }
    )
    orders = load_table(spark, SF_DIR, "orders")
    bamboo = BambooAI(
        orders, llm=llm, planning=True, df_ontology=str(onto),
        store_dir=str(tmp_path / "threads"),
    )
    res = bamboo.pd_agent_converse("Count orders per month in 1997")
    assert res.ok
    inspector_calls = [
        u for s, u in llm.calls if ":orders a :Dataframe" in u
    ]
    assert inspector_calls, "ontology text never reached a prompt"


def test_bambooai_facade_interactive_loop(spark, tmp_path, monkeypatch):
    """No question and no user_code enters the reference's stdin loop:
    each prompt runs a chain; 'exit' ends the session (and resets, as the
    reference does on exit) returning the last result."""
    from bambooai_spark import BambooAI

    llm = ScriptedLLM(
        {
            "route analytics questions": EXPERT_DA,
            "classify dataset questions": ANALYST,
            "analysis plans": PLAN,
            "write PySpark code": GOOD_CODE,
            "Summarize the analysis": "Computed.",
        }
    )
    orders = load_table(spark, SF_DIR, "orders")
    bamboo = BambooAI(
        orders, llm=llm, planning=True, store_dir=str(tmp_path / "threads")
    )
    inputs = iter(["Count orders per month in 1997", "exit"])
    monkeypatch.setattr("builtins.input", lambda prompt="": next(inputs))
    res = bamboo.pd_agent_converse()
    assert res is not None and res.ok and res.df.count() == 12
    # exit resets, like the reference's CLI mode teardown
    assert bamboo.thread_id is None and bamboo.chain_id is None


def test_bambooai_facade_review_fixes(spark, tmp_path):
    """Facade semantics pinned after review: exploratory=False forces the
    Data Analyst path with no routing calls; thread switches don't leak QA
    history; unknown chain_id raises; reset-then-converse starts a fresh
    thread even within one wall-clock second; vector_db gets a default
    LLM rank so the memory write gate actually fires."""
    import pytest as _pytest

    from bambooai_spark import BambooAI

    llm = ScriptedLLM(
        {
            "classify dataset questions": ANALYST,
            "analysis plans": PLAN,
            "write PySpark code": GOOD_CODE,
            "Summarize the analysis": "Computed.",
            "Rate the quality": "9",
        }
    )
    orders = load_table(spark, SF_DIR, "orders")
    bamboo = BambooAI(
        orders, llm=llm, planning=True, exploratory=False, vector_db=True,
        store_dir=str(tmp_path / "threads"),
    )
    res = bamboo.pd_agent_converse(
        "Count orders per month in 1997", thread_id="t1"
    )
    assert res.ok
    # exploratory=False: the expert-selector system prompt never fired
    # (ScriptedLLM would have raised on the unscripted routing prompt)
    assert not any(
        "route analytics questions" in s for s, _ in llm.calls
    )
    # the default rank_fn fired and the solution was written to memory
    assert any("Rate the quality" in s for s, _ in llm.calls)
    hit = bamboo.memory.retrieve("count orders per month in 1997")
    assert hit is not None and hit.rank == 9

    qa_before = list(bamboo._orch.messages.qa_pairs)
    assert qa_before  # thread t1 accumulated history
    # switching threads starts clean — no QA leak into t2's first chain
    bamboo.pd_agent_converse(user_code="df = df.limit(2)", thread_id="t2")
    rec = bamboo._session.store.load_chain("t2", "1")
    assert len(rec["qa_pairs"]) == 1  # only t2's own turn

    # unknown chain on the current thread raises instead of silently
    # branching from live state
    with _pytest.raises(ValueError, match="unknown chain"):
        bamboo.pd_agent_converse(user_code="df", chain_id="777")

    # reset then converse in the same second: a NEW auto thread id
    bamboo2 = BambooAI(
        orders, llm=llm, planning=True, exploratory=False,
        store_dir=str(tmp_path / "threads2"),
    )
    bamboo2.pd_agent_converse(user_code="df = df.limit(2)")
    tid1 = bamboo2.thread_id
    bamboo2.pd_agent_converse(action="reset")
    bamboo2.pd_agent_converse(user_code="df = df.limit(2)")
    assert bamboo2.thread_id != tid1
