"""DAG-shaped remediation artifacts mirroring the reference's five Airflow
DAGs (src/remediation/airflow_dags/*.py) — importable chain definitions over
this repo's REAL Spark operators, with no Airflow runtime required.

The reference ships each remediation as `detect >> fix >> validate >> notify`
PythonOperator chains (the only fan-out is outlier_remediation.py:227,
`detect >> [quarantine, correct] >> validate >> notify`). Here the same
shapes are declared with a minimal Task/DAG model that supports Airflow's
`>>` chaining syntax (including list fan-out/fan-in), validates acyclicity,
and executes tasks in topological order against a shared context dict — so
the artifacts are runnable orchestration, not decoration. An Airflow user
maps each Task 1:1 onto a PythonOperator with the same task_id.

Semantics of every task body live in the already-tested operators
(operators/remediate.py, profiler.py, schema_drift.py, plans/pipeline.py);
this module only sequences them.
"""

from __future__ import annotations

from collections import deque
from collections.abc import Callable

from pyspark.sql import functions as F


class Task:
    """A node in a remediation DAG. ``fn(ctx) -> dict | None``; a returned
    dict is merged into the shared context. Supports Airflow's chaining:
    ``a >> b``, ``a >> [b, c]``, ``[b, c] >> d``."""

    def __init__(self, task_id: str, fn: Callable[[dict], dict | None]):
        self.task_id = task_id
        self.fn = fn
        self.upstream: set[str] = set()
        self.downstream: set[str] = set()

    def __rshift__(self, other):
        targets = other if isinstance(other, list) else [other]
        for t in targets:
            self.downstream.add(t.task_id)
            t.upstream.add(self.task_id)
        return other

    def __rrshift__(self, other):
        # [a, b] >> c   (python dispatches to c.__rrshift__([a, b]))
        for t in other:
            t >> self
        return self

    def __repr__(self) -> str:  # pragma: no cover
        return f"Task({self.task_id})"


class DAG:
    """Named, acyclic task collection with Kahn topological execution."""

    def __init__(self, dag_id: str, description: str, tasks: list[Task],
                 tags: list[str] | None = None):
        self.dag_id = dag_id
        self.description = description
        self.tags = tags or []
        self.tasks = {t.task_id: t for t in tasks}
        if len(self.tasks) != len(tasks):
            raise ValueError(f"{dag_id}: duplicate task_ids")
        for t in tasks:
            for dep in t.upstream | t.downstream:
                if dep not in self.tasks:
                    raise ValueError(f"{dag_id}: {t.task_id} linked to "
                                     f"unknown task {dep}")
        self.topo_order()  # raises on cycles at definition time

    def roots(self) -> list[str]:
        return [t.task_id for t in self.tasks.values() if not t.upstream]

    def leaves(self) -> list[str]:
        return [t.task_id for t in self.tasks.values() if not t.downstream]

    def topo_order(self) -> list[str]:
        indeg = {tid: len(t.upstream) for tid, t in self.tasks.items()}
        # deterministic order: FIFO over declaration order among ready tasks
        ready = deque(tid for tid in self.tasks if indeg[tid] == 0)
        order: list[str] = []
        while ready:
            tid = ready.popleft()
            order.append(tid)
            for d in self.tasks[tid].downstream:
                indeg[d] -= 1
                if indeg[d] == 0:
                    ready.append(d)
        if len(order) != len(self.tasks):
            raise ValueError(f"{self.dag_id}: cycle among "
                             f"{set(self.tasks) - set(order)}")
        return order

    def run(self, ctx: dict) -> dict:
        """Execute every task in topological order against ``ctx``.
        Single-process executor: the fan-out branches are structurally
        parallel (an Airflow/real scheduler runs them concurrently); here
        they run in topo order, which preserves the dependency contract."""
        ctx = dict(ctx)
        ctx.setdefault("notifications", [])
        for tid in self.topo_order():
            out = self.tasks[tid].fn(ctx)
            if out:
                ctx.update(out)
        return ctx


def _notify(dag_id: str, summary_keys: list[str]) -> Callable[[dict], dict]:
    def fn(ctx: dict) -> dict:
        note = {"dag_id": dag_id,
                **{k: ctx.get(k) for k in summary_keys}}
        return {"notifications": ctx["notifications"] + [note]}
    return fn


# ---------------------------------------------------------------------------
# 1. outlier_remediation  (reference outlier_remediation.py:187-227 —
#    the fan-out DAG: detect >> [quarantine, correct] >> validate >> notify)
# ---------------------------------------------------------------------------


def build_outlier_dag() -> DAG:
    """ctx in: df (DataFrame), column (str). ctx out: census row, clean /
    quarantined / winsorized frames, validated flag, notification."""
    from ..operators import profiler, remediate

    def detect(ctx):
        row = profiler.iqr_outliers(ctx["df"], ctx["column"]).collect()[0]
        return {"census": row.asDict()}

    def quarantine(ctx):
        c = F.col(ctx["column"])
        cond = ((c < ctx["census"]["lo_fence"])
                | (c > ctx["census"]["hi_fence"]))
        clean, quarantined = remediate.quarantine_split(ctx["df"], cond)
        return {"clean": clean, "quarantined": quarantined}

    def correct(ctx):
        return {"winsorized": remediate.winsorize(ctx["df"], ctx["column"])}

    def validate(ctx):
        n_q = ctx["quarantined"].count()
        if n_q != ctx["census"]["outlier_count"]:
            raise AssertionError(
                f"quarantined {n_q} != detected {ctx['census']['outlier_count']}")
        return {"validated": True, "n_quarantined": n_q}

    detect_t = Task("detect_outliers", detect)
    quarantine_t = Task("quarantine_outliers", quarantine)
    correct_t = Task("apply_statistical_correction", correct)
    validate_t = Task("validate_remediation", validate)
    notify_t = Task("send_notification",
                    _notify("outlier_remediation",
                            ["validated", "n_quarantined"]))
    detect_t >> [quarantine_t, correct_t] >> validate_t >> notify_t
    return DAG("outlier_remediation",
               "Automatically quarantine and handle outliers",
               [detect_t, quarantine_t, correct_t, validate_t, notify_t],
               tags=["data-quality", "auto-remediation", "outliers"])


# ---------------------------------------------------------------------------
# 2. missing_data_remediation  (missing_data_remediation.py:161-195:
#    analyze >> impute >> validate >> notify)
# ---------------------------------------------------------------------------


def build_missing_data_dag() -> DAG:
    """ctx in: df. ctx out: missing profile, imputed frame, validated."""
    from ..operators import profiler, remediate

    def analyze(ctx):
        prof = profiler.profile(ctx["df"]).collect()[0].asDict()
        return {"missing_profile": prof}

    def impute(ctx):
        return {"imputed": remediate.impute_missing(ctx["df"])}

    def validate(ctx):
        from pyspark.sql import types as T
        df = ctx["imputed"]
        covered = [f.name for f in df.schema.fields
                   if isinstance(f.dataType, (T.NumericType, T.StringType))]
        residual = df.select([
            F.sum(F.col(c).isNull().cast("long")).alias(c)
            for c in covered]).collect()[0].asDict()
        bad = {c: n for c, n in residual.items() if n}
        if bad:
            raise AssertionError(f"nulls survived imputation: {bad}")
        return {"validated": True}

    a = Task("analyze_missing_patterns", analyze)
    i = Task("impute_missing_values", impute)
    v = Task("validate_imputation", validate)
    n = Task("send_notification",
             _notify("missing_data_remediation", ["validated"]))
    a >> i >> v >> n
    return DAG("missing_data_remediation",
               "Automatically impute missing data values", [a, i, v, n],
               tags=["data-quality", "auto-remediation", "missing-data"])


# ---------------------------------------------------------------------------
# 3. type_mismatch_remediation  (type_mismatch.py:159-193:
#    detect >> coerce >> validate >> notify)
# ---------------------------------------------------------------------------


def build_type_mismatch_dag() -> DAG:
    """ctx in: df, targets (dict col → spark type). ctx out: mismatch
    census, coerced frame, validated."""
    from ..operators import remediate

    def detect(ctx):
        df = ctx["df"]
        counts = df.select([
            F.sum((F.col(c).isNotNull()
                   & F.expr(f"try_cast({c} as {t})").isNull()).cast("long"))
            .alias(c)
            for c, t in ctx["targets"].items()]).collect()[0].asDict()
        return {"mismatches": counts}

    def coerce(ctx):
        return {"coerced": remediate.coerce_types(ctx["df"], ctx["targets"])}

    def validate(ctx):
        got = dict(ctx["coerced"].dtypes)
        bad = {c: got[c] for c, t in ctx["targets"].items() if got[c] != t}
        if bad:
            raise AssertionError(f"coercion missed: {bad}")
        return {"validated": True}

    d = Task("detect_type_mismatches", detect)
    c = Task("coerce_data_types", coerce)
    v = Task("validate_type_coercion", validate)
    n = Task("send_notification",
             _notify("type_mismatch_remediation", ["validated", "mismatches"]))
    d >> c >> v >> n
    return DAG("type_mismatch_remediation",
               "Automatically coerce data types", [d, c, v, n],
               tags=["data-quality", "auto-remediation", "types"])


# ---------------------------------------------------------------------------
# 4. schema_drift_remediation  (schema_drift_remediation.py:208-251:
#    detect >> update registry >> reingest >> validate >> notify)
# ---------------------------------------------------------------------------


def build_schema_drift_dag() -> DAG:
    """ctx in: df, registry (operators.schema_drift.SchemaRegistry),
    table (str). ctx out: drift report, reingested count, validated."""

    def detect(ctx):
        return {"drift": ctx["registry"].check(ctx["table"], ctx["df"])}

    def update_registry(ctx):
        ctx["registry"].record(ctx["table"], ctx["df"])
        return None

    def reingest(ctx):
        # the graft's "re-ingestion" is a full re-materialization pass over
        # the source frame under the NEW schema contract
        return {"reingested_rows": ctx["df"].count()}

    def validate(ctx):
        post = ctx["registry"].check(ctx["table"], ctx["df"])
        if post.get("has_drift"):
            raise AssertionError(f"registry still drifting: {post}")
        return {"validated": True}

    d = Task("detect_schema_changes", detect)
    u = Task("update_schema_registry", update_registry)
    r = Task("trigger_data_reingestion", reingest)
    v = Task("validate_remediation", validate)
    n = Task("send_completion_notification",
             _notify("schema_drift_remediation",
                     ["validated", "reingested_rows"]))
    d >> u >> r >> v >> n
    return DAG("schema_drift_remediation",
               "Automatically remediate schema drift issues",
               [d, u, r, v, n],
               tags=["data-quality", "auto-remediation", "schema"])


# ---------------------------------------------------------------------------
# 5. distribution_shift_remediation  (distribution_shift_remediation.py:
#    191-231: collect >> retrain >> validate >> deploy >> notify)
# ---------------------------------------------------------------------------


def build_distribution_shift_dag() -> DAG:
    """ctx in: wh (Warehouse), run_id, baseline_run_id, optional
    shift_threshold/sample_docs. ctx out: retrain result, validated,
    deployed model path (DQA_PPLX_MODEL hook)."""

    def collect(ctx):
        return {"clean_docs": ctx["wh"].read_clean().count()}

    def retrain(ctx):
        from .pipeline import drift_retrain
        res = drift_retrain(
            ctx["wh"], ctx["run_id"], ctx["baseline_run_id"],
            shift_threshold=ctx.get("shift_threshold", 0.15),
            sample_docs=ctx.get("sample_docs", 2000))
        return {"retrain": res}

    def validate(ctx):
        res = ctx["retrain"]
        if not res["retrained"]:
            return {"validated": True}  # no-shift is a valid outcome
        from ..functions.perplexity import PerplexityModel
        model = PerplexityModel.load(res["model_path"])
        if model.total <= 0:
            raise AssertionError("retrained LM is empty")
        return {"validated": True}

    def deploy(ctx):
        res = ctx["retrain"]
        if not res["retrained"]:
            return {"deployed_model": None}
        # deployment hook = the env override every scorer process honors
        # (functions/perplexity.py DQA_PPLX_MODEL)
        return {"deployed_model": res["model_path"],
                "deploy_env": {"DQA_PPLX_MODEL": res["model_path"]}}

    c = Task("collect_new_data", collect)
    r = Task("retrain_model", retrain)
    v = Task("validate_model", validate)
    d = Task("deploy_model", deploy)
    n = Task("send_notification",
             _notify("distribution_shift_remediation",
                     ["validated", "deployed_model"]))
    c >> r >> v >> d >> n
    return DAG("distribution_shift_remediation",
               "Automatically retrain models when distribution shifts",
               [c, r, v, d, n],
               tags=["data-quality", "auto-remediation", "distribution"])


def all_dags() -> dict[str, DAG]:
    """The five reference remediation chains, keyed by dag_id.
    (The graft-side crawl_to_training_mix pipeline DAG is deliberately NOT
    here — this dict mirrors the reference's airflow_dags/ directory 1:1.)
    """
    dags = [build_outlier_dag(), build_missing_data_dag(),
            build_type_mismatch_dag(), build_schema_drift_dag(),
            build_distribution_shift_dag()]
    return {d.dag_id: d for d in dags}


# ---------------------------------------------------------------------------
# graft addition: the end-to-end LLM-data pipeline as one DAG
# ---------------------------------------------------------------------------


def build_crawl_to_mix_dag() -> DAG:
    """The capstone chain: WARC crawl segments → pages warehouse → quality
    filter → {exact dedup, language census} → training-mix export.

    ctx in: spark, crawl_dir, warehouse_dir, out_dir; optional run_id,
    rates, default_rate, shards, num_buckets, synth_segments /
    docs_per_segment (fabricate a deterministic crawl for sandbox runs),
    c4 (C4 line rules before scoring, reason c4.page), dsir_target
    (DSIR importance gate on the export — SQL predicate naming the
    target slice).
    Each task body is an already-tested CLI/operator; `jobs.*` imports are
    lazy (DAG files run from a checkout, like Airflow's own dagbag).
    """

    def ingest(ctx):
        from ..sources.warc import read_warc, warc_to_pages
        from ..warehouse import Warehouse
        spark = ctx["spark"]
        if ctx.get("synth_segments"):
            from jobs.run_warc_ingest import synth_segments
            synth_segments(spark, ctx["crawl_dir"], ctx["synth_segments"],
                           ctx.get("docs_per_segment", 200))
        wh = Warehouse(spark, ctx["warehouse_dir"],
                       num_buckets=ctx.get("num_buckets", 16))
        return {"wh": wh, "pages_in": wh.write_pages(
            warc_to_pages(read_warc(spark, ctx["crawl_dir"])))}

    def filt(ctx):
        from .pipeline import run_filter
        return {"filter_summary": run_filter(
            ctx["wh"], ctx.get("run_id", "dag-run"),
            c4=ctx.get("c4", False))}

    def dedup_task(ctx):
        from ..operators import dedup
        clean = ctx["wh"].read_clean()
        deduped = dedup.exact_dedup(clean, text_col="text", id_col="url")
        return {"deduped": deduped, "docs_clean": clean.count(),
                "docs_deduped": deduped.count()}

    def census(ctx):
        rows = ctx["wh"].read_clean().groupBy("lang").count().collect()
        return {"lang_census": {r["lang"]: r["count"] for r in rows}}

    def export(ctx):
        from jobs.export_training_mix import export_mix
        return {"export_summary": export_mix(
            ctx["spark"], ctx["deduped"], ctx["out_dir"],
            ctx.get("rates", {}), ctx.get("shards", 8),
            default_rate=ctx.get("default_rate", 1.0),
            dsir_target=ctx.get("dsir_target"))}

    ingest_t = Task("ingest_warc", ingest)
    filter_t = Task("filter_quality", filt)
    dedup_t = Task("dedup_corpus", dedup_task)
    census_t = Task("language_census", census)
    export_t = Task("export_training_mix", export)
    notify_t = Task("send_notification",
                    _notify("crawl_to_training_mix",
                            ["pages_in", "docs_clean", "docs_deduped",
                             "lang_census", "export_summary"]))
    ingest_t >> filter_t >> [dedup_t, census_t] >> export_t >> notify_t
    return DAG("crawl_to_training_mix",
               "Crawl segments to training-ready JSONL shards",
               [ingest_t, filter_t, dedup_t, census_t, export_t, notify_t],
               tags=["llm-data", "pipeline", "end-to-end"])


def build_incremental_crawl_dag() -> DAG:
    """Crawl wave N+1 against the accumulated corpus — the INCREMENTAL
    variant of crawl_to_training_mix: ingest new segments → decontaminate
    against the STORED signature index (near/exact copies of data the
    corpus already holds never re-enter; wave 1 passes through when no
    index exists yet) → quality filter → export the wave's clean docs →
    extend the index with them, so wave N+2 decontaminates against this
    wave too. The prior corpus's text is never re-read at any wave.

    ctx in: spark, crawl_dir, warehouse_dir, out_dir; optional run_id,
    index_table, jaccard_threshold, rates/default_rate/shards,
    num_buckets, synth_segments / docs_per_segment.
    """
    import os as _os

    def ingest(ctx):
        from ..sources.warc import read_warc, warc_to_pages
        from ..warehouse import Warehouse
        spark = ctx["spark"]
        if ctx.get("synth_segments"):
            from jobs.run_warc_ingest import synth_segments
            synth_segments(spark, ctx["crawl_dir"], ctx["synth_segments"],
                           ctx.get("docs_per_segment", 200))
        wh = Warehouse(spark, ctx["warehouse_dir"],
                       num_buckets=ctx.get("num_buckets", 16))
        run = ctx.get("run_id", "wave")
        return {"wh": wh, "run": run, "pages_in": wh.write_pages(
            warc_to_pages(read_warc(spark, ctx["crawl_dir"])),
            table=f"pages_raw_{run}")}

    def decontaminate(ctx):
        from ..operators import dedup
        wh, run = ctx["wh"], ctx["run"]
        raw = wh.read_pages(f"pages_raw_{run}").drop("bucket")
        idx_path = _os.path.join(ctx["warehouse_dir"],
                                 ctx.get("index_table", "signatures"))
        has_index = _os.path.isdir(idx_path) and any(
            f.endswith(".parquet")
            for _r, _d, files in _os.walk(idx_path) for f in files)
        if has_index:
            # EXCLUDE this wave's own partition: a re-run (crash after
            # extend_index, or plain replay) must not self-decontaminate
            # against the docs it indexed last time — rerun-safety.
            # The params sidecar is verified (advice-r04: fail loudly,
            # never silently match nothing)
            kept = dedup.decontaminate(
                raw, idx_path, text_col="text", id_col="url",
                exclude_wave=run,
                threshold=ctx.get("jaccard_threshold", 0.5))
        else:
            kept = raw  # wave 1: nothing to decontaminate against
        return {"index_path": idx_path,
                "pages_novel": wh.write_pages(kept, table=f"pages_{run}")}

    def filt(ctx):
        from .pipeline import run_filter
        run = ctx["run"]
        return {"filter_summary": run_filter(
            ctx["wh"], run, pages_table=f"pages_{run}",
            clean_table=f"clean_{run}")}

    def extend_index(ctx):
        from ..operators import dedup
        spark, wh, run = ctx["spark"], ctx["wh"], ctx["run"]
        clean = wh.read_clean(f"clean_{run}").select("url", "text")
        # one hive-style partition per wave, OVERWRITTEN on re-run: the
        # index never accumulates duplicate rows for a replayed wave.
        # write_signature_index is the same producer run_dedup --mode
        # index uses (unified layout + params sidecar, advice-r04)
        dedup.write_signature_index(
            dedup.build_signature_index(clean, text_col="text",
                                        id_col="url"),
            ctx["index_path"], wave=run)
        return {"index_docs": spark.read.parquet(
            ctx["index_path"]).count()}

    def export(ctx):
        from jobs.export_training_mix import export_mix
        return {"export_summary": export_mix(
            ctx["spark"], ctx["wh"].read_clean(f"clean_{ctx['run']}"),
            ctx["out_dir"], ctx.get("rates", {}), ctx.get("shards", 8),
            default_rate=ctx.get("default_rate", 1.0))}

    ingest_t = Task("ingest_wave", ingest)
    decon_t = Task("decontaminate_vs_index", decontaminate)
    filter_t = Task("filter_quality", filt)
    index_t = Task("extend_signature_index", extend_index)
    export_t = Task("export_wave_mix", export)
    notify_t = Task("send_notification",
                    _notify("incremental_crawl",
                            ["pages_in", "pages_novel", "filter_summary",
                             "index_docs", "export_summary"]))
    ingest_t >> decon_t >> filter_t >> [index_t, export_t] >> notify_t
    return DAG("incremental_crawl",
               "Crawl wave ingest, decontaminate vs stored index, filter, "
               "export, and index extension",
               [ingest_t, decon_t, filter_t, index_t, export_t, notify_t],
               tags=["llm-data", "pipeline", "incremental"])
