"""Agent orchestrator — the reference's question lifecycle
(bambooai/bambooai.py:550-684 _process_question + :335-489 taskmaster +
:760-816 execute_code retry loop) on the Spark-native data plane.

Flow: question → expert selector → (Data Analyst) analyst selector →
planner → code generator → sanitize → SparkCodeExecutor → on error:
traceback-filtered excerpt → error corrector → retry (≤ MAX_ERROR_CORRECTIONS
= 5, reference bambooai.py:110) → summarizer.

Everything that touches data is deterministic repo code (profiler bounded
context, sandbox execution); the LLM is an injected callable, so the loop
is testable with scripted responses (SURVEY §5: LLM nondeterminism stays
out of the correctness gate).

Reuse contract: a turn runs only the Spark work its answer needs. The
frame profile is computed once per ``DataFrame`` object and reused by every
later turn on that same object; it is computed only when a prompt reads it
(never for the research route, never for user code that runs clean). A
frame adopted from a successful turn is a new object and is re-profiled.
To re-profile a frame whose source files were rewritten in place, build a
new ``DataFrame`` for it.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from bambooai_spark.agent import prompts
from bambooai_spark.agent.memory import EpisodicMemory
from bambooai_spark.agent.messages import CUSTOM_IDENTIFIERS, MessageManager
from bambooai_spark.agent.output import OutputManager
from bambooai_spark.agent.parsing import (
    extract_analyst,
    extract_expert,
    extract_yaml_block,
)
from bambooai_spark.executor import SparkCodeExecutor
from bambooai_spark.executor.sanitizer import extract_code
from bambooai_spark.profiler import (
    dataframe_summary_to_string,
    get_dataframe_columns,
)

MAX_ERROR_CORRECTIONS = 5  # reference bambooai.py:110

# (system, user) -> response text. ``user`` is a plain string EXCEPT when an
# image rides along (reference web_app/app.py:927-945 forwards an optional
# base64 image to vision-capable models): then it is a list of structured
# parts [{"type": "text", "text": ...}, {"type": "image", "data": b64}].
# Scripted/test LLMs that never see images keep the plain-string contract.
LLM = Callable[[str, str], str]


@dataclass
class AgentResult:
    df: DataFrame | None
    code: str | None
    stdout: str | None
    summary: str | None
    expert: str | None
    intent: str | None
    plan: str | None
    corrections: int = 0
    errors: list[str] = field(default_factory=list)
    ok: bool = True  # final execution succeeded (prose answers are ok=True)
    # plots-as-data harvested by the sandbox (ExecutionResult.plots)
    plots: list[dict] = field(default_factory=list)
    # files generated code wrote under generated_datasets_path (A-layer
    # "generated datasets" contract, reference code_executor.py:187-199)
    generated_datasets: list[str] = field(default_factory=list)


class AgentOrchestrator:
    def __init__(
        self,
        spark: SparkSession,
        llm: LLM,
        *,
        planning: bool = True,
        summarize: bool = True,
        tools: dict | None = None,
        sample_first: int | None = None,
        memory: "EpisodicMemory | None" = None,
        rank_fn: Callable[["AgentResult"], int] | None = None,
        output: OutputManager | None = None,
        max_conversations: int = 4,
        exploratory: bool = True,
        executor=None,
    ):
        self.spark = spark
        self.llm = llm
        # streaming seam (reference web_output_manager): a no-op sink by
        # default, a queue-backed one in the /query web flow
        self.output = output or OutputManager()
        self.planning = planning
        self.summarize = summarize
        self.tools = tools or {}  # e.g. {"google_search": fn} — injected
        # SURVEY §4 candidate #2: run generated code against a cached
        # N-row sample first, promoting to full data only once it runs
        # clean — at 100 TB every self-healing retry against the full table
        # is a full-scale job; failures (wrong column, bad cast, API
        # misuse) surface identically on the sample.
        self.sample_first = sample_first
        # episodic memory (reference bambooai.py:265-291): retrieve-before-
        # plan; a hit pre-seeds the plan (skipping the planner call) and the
        # code generator. rank_fn supplies the reference's user rank at the
        # write gate (bambooai.py:655-670) — e.g. a fixed 10 in tests, a UI
        # callback in production; without it nothing is ever written.
        self.memory = memory
        self.rank_fn = rank_fn
        # bounded QA history (reference message_manager contracts) — fed to
        # follow-up prompts by callers via messages.format_qa_pairs();
        # max_conversations is the reference's prune bound (window 2·max−1)
        self.messages = MessageManager(max_conversations=max_conversations)
        # reference exploratory=False (bambooai.py taskmaster gate): skip
        # expert routing entirely and force the Data Analyst path
        self.exploratory = exploratory
        # injectable execution seam: local sandbox by default, a
        # RemoteSparkExecutor in the reference's EXECUTION_MODE=api split
        # (executor/client.py) — same execute() surface either way
        self.executor = executor or SparkCodeExecutor()
        # one-slot profile cache: (frame object, its prompt context)
        self._ctx_slot: tuple[DataFrame, str] | None = None

    # -- pipeline stages ---------------------------------------------

    def _context(self, df: DataFrame) -> str:
        """Bounded frame profile for the prompts, computed once per frame
        object (the profile runs several Spark jobs; repeat turns on the
        same frame reuse it byte for byte)."""
        slot = self._ctx_slot
        if slot is None or slot[0] is not df:
            ctx = prompts.df_context(
                dataframe_summary_to_string(df), get_dataframe_columns(df)
            )
            slot = self._ctx_slot = (df, ctx)
        return slot[1]

    @staticmethod
    def _with_image(user: str, image: str | None):
        """Wrap a user payload with an attached base64 image as structured
        parts (reference forwards the /query image to vision-capable model
        calls, web_app/app.py:927-945). Plain string when no image."""
        if image is None:
            return user
        return [
            {"type": "text", "text": user},
            {"type": "image", "data": image},
        ]

    def _route(
        self, question: str, image: str | None = None
    ) -> tuple[str | None, str | None]:
        resp = self.llm(
            prompts.EXPERT_SELECTOR_SYSTEM, self._with_image(question, image)
        )
        expert, _requires, _conf = extract_expert(resp)
        if expert != "Data Analyst":
            return expert, None
        resp = self.llm(
            prompts.ANALYST_SELECTOR_SYSTEM, self._with_image(question, image)
        )
        _analyst, _unknown, _cond, _data, intent = extract_analyst(resp)
        return expert, intent or question

    def _inspect(self, intent: str, ctx: str, ontology: str) -> str | None:
        """Dataframe Inspector (reference utils.py:323-367): ontology +
        profile → per-task YAML data model."""
        resp = self.llm(
            prompts.INSPECTOR_SYSTEM,
            f"Ontology:\n{ontology}\n\n{ctx}\n\nTask: {intent}",
        )
        return extract_yaml_block(resp) or None

    def _review(self, plan: str | None, code: str) -> str | None:
        """Reviewer (reference bambooai.py:850-878): reconcile plan with the
        code that actually ran — only called after corrections."""
        resp = self.llm(
            prompts.REVIEWER_SYSTEM,
            f"Original plan:\n{plan}\n\nExecuted code:\n```python\n{code}\n```",
        )
        return extract_yaml_block(resp) or plan

    def _plan(
        self, intent: str, ctx: str, image: str | None = None
    ) -> str | None:
        if not self.planning:
            return None
        resp = self.llm(
            prompts.PLANNER_SYSTEM,
            self._with_image(f"{ctx}\n\nTask: {intent}", image),
        )
        return extract_yaml_block(resp) or None

    def _generate(
        self,
        intent: str,
        plan: str | None,
        ctx: str,
        example_code: str | None = None,
        image: str | None = None,
    ) -> str:
        system = prompts.CODE_GENERATOR_SYSTEM.format(df_context=ctx)
        user = f"Task: {intent}" + (f"\n\nPlan:\n{plan}" if plan else "")
        if example_code:
            # recalled solution of a similar past task (reference seeds it
            # as the example block in the codegen prompt, bambooai.py:270-281)
            user += (
                "\n\nExample solution from a similar past task:\n"
                f"```python\n{example_code}\n```"
            )
        return extract_code(self.llm(system, self._with_image(user, image)))

    def _correct(self, code: str, error: str, ctx: str) -> str:
        system = prompts.ERROR_CORRECTOR_SYSTEM.format(df_context=ctx)
        user = f"Failed code:\n```python\n{code}\n```\n\nError:\n{error}"
        return extract_code(self.llm(system, user))

    def _correct_user_code(self, code: str, error: str, ctx: str) -> str:
        system = prompts.USER_CODE_CORRECTOR_SYSTEM.format(df_context=ctx)
        user = f"User's code:\n```python\n{code}\n```\n\nError:\n{error}"
        return extract_code(self.llm(system, user))

    # -- entry points -------------------------------------------------

    def run_user_code(
        self,
        code: str,
        df: DataFrame,
        *,
        question: str | None = None,
        generated_datasets_path: str | None = None,
        chain_id: str | None = None,
    ) -> AgentResult:
        """Lifecycle entry 3 (reference bambooai.py:616-623 ``user_code``):
        the user supplies the code, so routing, planning, memory retrieval,
        and code generation are all skipped — straight to the sandbox.

        Self-healing differs from the LLM-code path only in the FIRST
        repair round: the dedicated user-code corrector prompt (edits kept
        minimal, the user's structure preserved — reference
        bambooai.py:829-833); later rounds use the normal corrector."""
        errors: list[str] = []
        corrections = 0
        gdp = generated_datasets_path
        res = self.executor.execute(
            code, df=df, spark=self.spark, generated_datasets_path=gdp
        )
        while not res.ok and corrections < MAX_ERROR_CORRECTIONS:
            errors.append(res.error)
            corrections += 1
            # the profile is read only by the corrector prompts
            ctx = self._context(df)
            if corrections == 1:
                code = self._correct_user_code(code, res.error, ctx)
            else:
                code = self._correct(code, res.error, ctx)
            res = self.executor.execute(
                code, df=df, spark=self.spark, generated_datasets_path=gdp
            )
        if not res.ok:
            errors.append(res.error)
        summary = None
        if self.summarize and res.ok and res.df is not None:
            preview = res.df.limit(10).toPandas().to_string(index=False)
            summary = self.llm(
                prompts.SUMMARIZER_SYSTEM,
                f"Task: {question or 'user-supplied code'}\n\n"
                f"Result preview:\n{preview}",
            )
        if res.ok:
            # user-code runs enter the QA history under the reference's
            # custom-operation identifier, so they replace rather than
            # accumulate (message_manager.py:141-154)
            self.messages.append_qa_pair(
                question or CUSTOM_IDENTIFIERS[1], summary or res.stdout or ""
            )
            # same event contract as the converse path: a chain-tagged
            # result event, then chain-tagged plots
            self.output.emit(
                {"type": "result", "stdout": res.stdout, "chain_id": chain_id}
            )
        for p in res.plots:
            self.output.plot(p, chain_id)
        return AgentResult(
            df=res.df if res.ok else df,
            code=code,
            stdout=res.stdout,
            summary=summary,
            expert="User",  # reference analyst='User', code_type='user'
            intent=question,
            plan=None,
            corrections=corrections,
            errors=errors,
            ok=res.ok,
            plots=list(res.plots),
            generated_datasets=list(res.generated_datasets),
        )

    def _aux_context(
        self, aux_datasets: list[str]
    ) -> tuple[str, dict[str, DataFrame]]:
        """Load auxiliary datasets (reference A3/A5) for the join path: each
        file becomes a sandbox variable in ``aux[...]`` AND a temp view, and
        the prompt context gets bounded previews — the material the
        inspector's ``links_for_merge`` relationships (reference
        default_prompts.yaml:1329-1335) are derived from."""
        from bambooai_spark.sources import aux_datasets_to_string  # noqa: PLC0415
        from bambooai_spark.sources.ingest import load_aux_tables  # noqa: PLC0415

        tables = load_aux_tables(self.spark, aux_datasets)
        previews = aux_datasets_to_string(self.spark, aux_datasets)
        listing = ", ".join(tables) or "none loadable"
        ctx = (
            f"\n\nAuxiliary datasets (available in the sandbox as"
            f" aux['<name>'] DataFrames and as temp views; join them to df"
            f" on the keys the data model's links_for_merge entries name):"
            f" {listing}\n{previews}"
        )
        return ctx, tables

    def converse(
        self,
        question: str,
        df: DataFrame,
        *,
        ontology: str | None = None,
        aux_datasets: list[str] | None = None,
        image: str | None = None,
        chain_id: str | None = None,
        generated_datasets_path: str | None = None,
    ) -> AgentResult:
        out = self.output
        if self.exploratory:
            expert, intent = self._route(question, image)
        else:
            expert, intent = "Data Analyst", question
        out.thought(f"Expert: {expert}", chain_id)
        if expert != "Data Analyst":
            # research path: Theorist prose, optionally via the tool loop
            # (reference bambooai.py:456-472 + google_search dispatch)
            from bambooai_spark.agent.tools import run_tool_loop

            user = f"DF columns: {get_dataframe_columns(df)}\n\nQuestion: {question}"
            answer = run_tool_loop(
                self.llm, prompts.THEORIST_SYSTEM, user, self.tools
            )
            out.text_stream(answer or "", chain_id)
            return AgentResult(
                df=None, code=None, stdout=None, summary=answer,
                expert=expert, intent=None, plan=None,
            )
        # the analyst path's prompts read the profile (and aux previews);
        # the research path above needs neither
        ctx = self._context(df)
        aux_tables: dict[str, DataFrame] = {}
        if aux_datasets:
            aux_ctx, aux_tables = self._aux_context(aux_datasets)
            ctx += aux_ctx
        # retrieve-before-plan (reference bambooai.py:265-291): a memory hit
        # short-circuits the planner (plan cache) and seeds the generator
        recall = self.memory.retrieve(intent) if self.memory else None
        if recall is not None and recall.data_model:
            ctx = f"{ctx}\n\nData model (recalled):\n{recall.data_model}"
        if ontology:
            model = self._inspect(intent, ctx, ontology)
            if model:
                ctx = f"{ctx}\n\nData model:\n{model}"
        out.thought(f"Task: {intent}", chain_id)
        if recall is not None and recall.plan and self.planning:
            plan = recall.plan
        else:
            plan = self._plan(intent, ctx, image)
        if plan:
            out.thought(f"Plan:\n{plan}", chain_id)
        code = self._generate(
            intent,
            plan,
            ctx,
            example_code=recall.code if recall else None,
            image=image,
        )
        out.thought(f"Generated code:\n```python\n{code}\n```", chain_id)

        errors: list[str] = []
        corrections = 0
        ev = {"aux": aux_tables} if aux_tables else None
        sample = None
        if self.sample_first:
            sample = df.limit(self.sample_first).cache()
            probe_df = sample
        else:
            probe_df = df
        res = self.executor.execute(
            code, df=probe_df, spark=self.spark, extra_vars=ev,
            generated_datasets_path=generated_datasets_path,
        )
        while not res.ok and corrections < MAX_ERROR_CORRECTIONS:
            errors.append(res.error)
            corrections += 1
            out.thought(
                f"Execution error (round {corrections}):\n{res.error}",
                chain_id,
            )
            code = self._correct(code, res.error, ctx)
            res = self.executor.execute(
                code, df=probe_df, spark=self.spark, extra_vars=ev,
                generated_datasets_path=generated_datasets_path,
            )
        if res.ok and sample is not None:
            # promote: the code runs clean on the sample — one full-data run
            res = self.executor.execute(
                code, df=df, spark=self.spark, extra_vars=ev,
                generated_datasets_path=generated_datasets_path,
            )
            if not res.ok:
                # full-scale-only failure (e.g. overflow): one more repair
                # round against the real error
                errors.append(res.error)
                corrections += 1
                code = self._correct(code, res.error, ctx)
                res = self.executor.execute(
                    code, df=df, spark=self.spark, extra_vars=ev,
                    generated_datasets_path=generated_datasets_path,
                )
        if sample is not None:
            sample.unpersist()
        if not res.ok:
            errors.append(res.error)

        if res.ok:
            # executor output reaches the stream before the summary, as the
            # reference's display_results does
            out.emit(
                {"type": "result", "stdout": res.stdout, "chain_id": chain_id}
            )
        if res.ok and corrections > 0 and plan:
            # reconcile the plan with what actually ran (reference
            # bambooai.py:631-633: reviewer fires only after corrections)
            plan = self._review(plan, code)

        summary = None
        if self.summarize and res.ok and res.df is not None:
            preview = res.df.limit(10).toPandas().to_string(index=False)
            summary = self.llm(
                prompts.SUMMARIZER_SYSTEM,
                f"Task: {intent}\n\nPlan:\n{plan}\n\nResult preview:\n{preview}",
            )
            out.text_stream(summary or "", chain_id)
        for p in res.plots:
            out.plot(p, chain_id)
        result = AgentResult(
            df=res.df if res.ok else df,
            code=code,
            stdout=res.stdout,
            summary=summary,
            expert=expert,
            intent=intent,
            plan=plan,
            corrections=corrections,
            errors=errors,
            ok=res.ok,
            plots=list(res.plots),
            generated_datasets=list(res.generated_datasets),
        )
        if self.memory is not None and self.rank_fn is not None and res.ok:
            # post-execution write (reference bambooai.py:655-670): user rank
            # gates the record; EpisodicMemory enforces rank ≥ min_rank and
            # the strong-match semantic dedup
            import hashlib  # noqa: PLC0415

            rid = "mem-" + hashlib.md5(intent.encode("utf-8")).hexdigest()[:12]
            self.memory.add(
                rid, intent, plan=plan, code=code, rank=self.rank_fn(result)
            )
        if res.ok:
            # append to the bounded QA history (reference bambooai.py:684)
            self.messages.append_qa_pair(intent, summary or res.stdout or "")
        return result
