"""Generic staged pipeline runner that resumes from the last completed checkpoint.

The Spark re-expression of the reference's driver loop
(``/root/reference/exome_qc/exome_qc.py:68-588``): stepcount 1..N, each
stage gated on ``check_exists(stage_output)`` (``shared/utils.py:227-247``),
so a rerun resumes from the last completed step (``README.md:54-55``).
Here that is one rule: a run starts at the last materialized stage whose
checkpoint exists, reads only that snapshot, and computes and
materializes every stage after it; the stages before it neither run nor
read. Stages are pure ``DataFrame → DataFrame`` functions;
the runner owns materialization, manifests (params/lineage/metrics),
accounting and telemetry, so stage code stays declarative for Catalyst.
Telemetry is the Spark work of the jobs between a stage's start and end,
folded from the status store by :mod:`~exome_qc_library_spark.telemetry`
(no UI, no extra job) and committed with the data as ``metrics.telemetry``.
"""

from __future__ import annotations

import json
import os
import time
from collections.abc import Callable
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import telemetry
from ..functions.flags import flag_count_df, flag_vocab
from ..functions.memo import per_jvm
from ..sources.checkpoint import CheckpointStore, core_wide

# What Pipeline.report breaks keep-rates down by and which metric
# quantiles it reports; columns the terminal table lacks are skipped.
REPORT_GROUP_COLS = ("source_file", "lang_id")
REPORT_METRIC_COLS = ("perplexity", "word_count", "stopword_density", "symbol_ratio")
REPORT_QUANTILES = (0.05, 0.25, 0.5, 0.75, 0.95)


def _attach_accounting_observation(out: DataFrame, acct_cols: tuple[str, ...]):
    """Fold per-stage flag accounting into the checkpoint-write job.

    When every accounted flag column carries a ``flag_vocab`` (recorded by
    ``add_flags`` as column metadata), the per-tag occurrence counts are
    fixed aggregate expressions — so they ride the materialization job as
    observed metrics (``df.observe``) instead of costing a second full
    scan per column afterwards. At 100 TB that removes two terminal-table
    scans per stage; on the bench it removes the accounting jobs + their
    driver gaps from the serial tail (round-5 job census, BENCH.md).
    :func:`_flag_counts` turns the observed sums into the counts that the
    stage's manifest records.

    Returns ``(observed_df, observation, plan)`` where ``plan`` maps each
    column to its (tag → metric alias) table, or ``(out, None, {})`` when
    any column lacks a vocabulary (generic stages keep the scan path).
    """
    from pyspark.sql import Observation

    aggs, plan = [], {}
    for ci, ac in enumerate(acct_cols):
        vocab = flag_vocab(out, ac)
        if vocab is None:
            return out, None, {}
        col_aggs, tag_alias = _accounting_aggs(ci, ac, tuple(vocab))
        aggs += col_aggs
        plan[ac] = (ci, tag_alias)
    obs = Observation()
    return out.observe(obs, *aggs), obs, plan


@per_jvm
def _accounting_aggs(ci: int, ac: str, vocab: tuple[str, ...]):
    """The observed aggregates of flag column ``ac`` (the ``ci``-th
    accounted column): one occurrence count per ``vocab`` tag, the
    flagless rows and the occurrence total; and the tag → alias table."""

    def _eq(tag):
        # a (x, _t=tag) default-arg lambda would be read by F.filter as the
        # two-arg (element, index) form — close over the tag instead
        return lambda x: x == F.lit(tag)

    sz = F.coalesce(F.size(F.col(ac)), F.lit(0))
    aggs, tag_alias = [], {}
    for ti, t in enumerate(vocab):
        a = f"c{ci}_t{ti}"
        tag_alias[t] = a
        aggs.append(F.sum(F.size(F.filter(F.col(ac), _eq(t)))).alias(a))
    aggs.append(F.count_if(sz == 0).alias(f"c{ci}_empty"))
    aggs.append(F.sum(sz).alias(f"c{ci}_total"))
    return tuple(aggs), tag_alias


def _flag_counts(written: DataFrame, col: str, obs, plan: dict) -> dict[str, int]:
    """``{tag | "__none__": n}`` for ``col`` — the ``flag_count_df``
    multiset, ``"__none__"`` counting flagless docs. Built from the
    observation ``obs`` when the column has a vocabulary and the per-tag
    sums reconcile with the observed occurrence total; otherwise (no
    vocabulary, or an out-of-vocabulary tag slipped in) by scanning
    ``written``."""
    if col in plan:
        ci, tag_alias = plan[col]
        observed = obs.get
        counts = {t: int(observed.get(a) or 0) for t, a in tag_alias.items()}
        if sum(counts.values()) == int(observed.get(f"c{ci}_total") or 0):
            out = {t: n for t, n in counts.items() if n > 0}
            empty = int(observed.get(f"c{ci}_empty") or 0)
            if empty > 0:
                out["__none__"] = empty
            return out
    return {
        (r["flag"] if r["flag"] is not None else "__none__"): r["n"]
        for r in flag_count_df(written, col).collect()
    }


@dataclass
class Stage:
    name: str
    fn: Callable[[DataFrame], DataFrame]
    params: dict[str, Any] = field(default_factory=dict)
    # flag column(s) whose per-tag counts the stage's manifest records (the
    # reference's per-stage count_failing reports, shared/variant_qc.py:
    # 638-723); only when the stage materializes. A single name or None is
    # normalized to a tuple on construction.
    account_flags: str | tuple[str, ...] | None = None
    # materialize=False chains this stage lazily into the next checkpoint —
    # the reference checkpoints after EVERY step and flags the cost
    # ("constant checkpointing is expensive", variant_qc.py:783-784); here
    # cheap expression stages fuse into one codegen'd write
    materialize: bool = True
    # each output row depends on its input row only, so streaming can run fn
    stateless: bool = False

    def __post_init__(self) -> None:
        if isinstance(self.account_flags, str):
            self.account_flags = (self.account_flags,)
        else:
            self.account_flags = tuple(self.account_flags or ())


@dataclass
class StageResult:
    name: str
    resumed: bool
    seconds: float
    rows: int | None
    # the Spark work of the stage's window of jobs (telemetry.FIELDS)
    telemetry: dict[str, Any] | None = None
    # a lazy stage: the next materialized stage, whose window holds this
    # stage's Spark work (None for a materialized or a trailing lazy stage)
    fused_into: str | None = None


class Pipeline:
    def __init__(self, stages: list[Stage], store: CheckpointStore) -> None:
        self.stages = stages
        self.store = store
        self.results: list[StageResult] = []

    def run(self, df: DataFrame, from_stage: str | None = None) -> DataFrame:
        """Run from the last completed checkpoint (cold run ≡ resumed run,
        FIXTURES.md §7.4): the last materialized stage before ``from_stage``
        (or the end) whose checkpoint exists is read with
        :meth:`CheckpointStore.read`, the stages before it neither run nor
        read, and every stage after it runs (``df`` feeds the first stage
        only when no checkpoint qualifies, at core width like a checkpoint
        read: :func:`~exome_qc_library_spark.sources.checkpoint.core_wide`).
        ``from_stage`` is the one way to force a recompute: checkpoints
        at/after it are STALE and rebuilt (the reference's "rerun from
        step N" knob). A stage at or before
        the resume point gets ``resumed=True``, its manifest's ``rows`` and
        telemetry showing no job.

        Lazy (``materialize=False``) stage params fold into the NEXT
        checkpoint's manifest; a TRAILING lazy stage therefore has no
        manifest to record its params in — they are visible only in the
        returned DataFrame's lineage. Keep the terminal stage materialized
        when the manifest record matters.

        ``StageResult.telemetry`` covers a window of job ids; the runner
        sets no job group, so callers' groups stay intact. A computed lazy
        stage reports only the jobs its ``fn`` fires at build time; its
        ``fused_into`` names the materialized stage whose window holds the
        rest of its Spark work.
        """
        names = [s.name for s in self.stages]
        if from_stage is not None and from_stage not in names:
            raise ValueError(f"unknown stage {from_stage!r}")
        stop = names.index(from_stage) if from_stage is not None else len(names)
        start = max(
            (i for i in range(stop) if self.stages[i].materialize and self.store.exists(names[i])),
            default=-1,
        )
        fused_into: dict[str, str | None] = {}
        nxt = None
        for st in reversed(self.stages):
            if st.materialize:
                nxt = st.name
            else:
                fused_into[st.name] = nxt
        prev_name = None
        pending_params: dict[str, Any] = {}
        spark = self.store.spark
        for i, st in enumerate(self.stages):
            t0 = time.monotonic()
            window = telemetry.mark(spark)
            tel: dict[str, Any] | None = None
            resumed = i <= start
            if i == start:
                df = self.store.read(st.name)
            elif not resumed:
                out = st.fn(core_wide(df) if i == 0 else df)
                if st.materialize:
                    acct_cols = tuple(ac for ac in st.account_flags if ac in out.columns)
                    if acct_cols:
                        out, obs, plan = _attach_accounting_observation(out, acct_cols)

                    # called by store.write between the data write and the
                    # manifest commit; folds last, so a fallback scan counts
                    def metrics(written: DataFrame) -> dict[str, Any]:
                        nonlocal tel
                        m: dict[str, Any] = {}
                        if acct_cols:
                            m["flag_counts"] = {
                                ac: _flag_counts(written, ac, obs, plan)
                                for ac in acct_cols
                            }
                        tel = m["telemetry"] = telemetry.since(spark, window)
                        return m

                    df = self.store.write(
                        out,
                        st.name,
                        params={**pending_params, st.name: st.params},
                        parent=prev_name,
                        metrics=metrics,
                    )
                    pending_params = {}
                else:
                    # lazy stage: params fold into the next checkpoint's manifest
                    df = out
                    pending_params[st.name] = st.params
            rows = None
            if st.materialize:
                rows = (self.store.manifest(st.name) or {}).get("rows")
                prev_name = st.name
            if tel is None:
                tel = telemetry.since(spark, window)
            self.results.append(
                StageResult(
                    st.name, resumed, time.monotonic() - t0, rows, tel, fused_into.get(st.name)
                )
            )
        return df

    def report(self) -> dict[str, Any]:
        """Consolidated end-of-run QC report — the engine's analog of the
        reference's per-stage distribution plots and histogram blocks
        (``exome_qc/exome_qc.py:186-194``, ``shared/samples_qc.py:348-359,
        489-495``), emitted as ONE JSON artifact per pipeline run
        (round-5 VERDICT #5).

        Cost contract: NO new table scans and no reads of accounting
        tables. Per-stage rows, params and flag histograms come from the
        checkpoint manifests, where :meth:`run` committed them with each
        stage's data; per-stage ``telemetry`` is this run's
        :attr:`StageResult.telemetry` from the status store (no scan, no
        job; ``None`` for a stage that did not run), and a lazy stage's
        ``fused_into``, the stage whose telemetry holds its Spark work;
        keep-rates by group
        and metric quantiles from ONE bounded ``cube`` aggregation over
        the terminal checkpoint (``grouping_id`` disambiguates cube margins
        from genuinely-NULL group values, e.g. the NULL ``lang_id`` of
        empty docs). Columns named in ``REPORT_GROUP_COLS`` /
        ``REPORT_METRIC_COLS`` that the terminal table lacks are skipped,
        so the report composes with any stage list.

        Returns the report dict, and writes it as ``report.json`` in the
        store root, next to the stage dirs it summarizes."""
        term = next((s.name for s in reversed(self.stages) if s.materialize), None)
        if term is None or not self.store.exists(term):
            raise ValueError("no terminal checkpoint — run() the pipeline first")
        last_run = {r.name: r for r in self.results}
        stages: list[dict[str, Any]] = []
        flag_counts: dict[str, dict[str, dict[str, int]]] = {}
        for st in self.stages:
            man = (self.store.manifest(st.name) or {}) if st.materialize else {}
            res = last_run.get(st.name)
            stages.append(
                {
                    "name": st.name,
                    "materialized": st.materialize,
                    "rows": man.get("rows"),
                    "params": st.params,
                    "resumed": res.resumed if res else None,
                    "seconds": round(res.seconds, 3) if res else None,
                    "telemetry": res.telemetry if res else None,
                    "fused_into": res.fused_into if res else None,
                }
            )
            counts = (man.get("metrics") or {}).get("flag_counts")
            if counts:
                flag_counts[st.name] = counts
        # as written: the cube below starts with its own exchange
        df = self.store.read_as_written(term)
        gcols = [c for c in REPORT_GROUP_COLS if c in df.columns]
        mcols = [c for c in REPORT_METRIC_COLS if c in df.columns]
        qs = list(REPORT_QUANTILES)
        aggs: list = [F.count(F.lit(1)).alias("n")]
        if "keep" in df.columns:
            aggs.append(F.sum(F.when(F.col("keep"), 1).otherwise(0)).alias("n_keep"))
        aggs += [
            F.percentile_approx(F.col(c), qs, 10_000).alias(f"q_{c}") for c in mcols
        ]
        if gcols:
            rows = df.cube(*gcols).agg(F.grouping_id().alias("gid"), *aggs).collect()
            all_margins = (1 << len(gcols)) - 1
        else:
            rows = df.agg(F.lit(0).alias("gid"), *aggs).collect()
            all_margins = 0
        # cube() over ZERO rows emits no grouping-set rows at all, so an
        # all-filtered terminal table has no grand-total row — synthesize an
        # empty totals block instead of crashing with StopIteration
        glob = next((r for r in rows if r["gid"] == all_margins), None)

        def keep_block(r) -> dict[str, Any]:
            if r is None:
                b: dict[str, Any] = {"rows": 0}
                if "keep" in df.columns:
                    b["kept"] = 0
                    b["keep_rate"] = None
                return b
            b = {"rows": r["n"]}
            if "keep" in df.columns:
                b["kept"] = r["n_keep"]
                b["keep_rate"] = round(r["n_keep"] / r["n"], 4) if r["n"] else None
            return b

        by: dict[str, dict[str, dict[str, Any]]] = {}
        for i, c in enumerate(gcols):
            margin_gid = all_margins & ~(1 << (len(gcols) - 1 - i))
            by[c] = {
                (str(r[c]) if r[c] is not None else "__null__"): keep_block(r)
                for r in rows
                if r["gid"] == margin_gid
            }
        metrics = {
            c: {f"p{int(q * 100):02d}": glob[f"q_{c}"][j] for j, q in enumerate(qs)}
            if glob is not None and glob[f"q_{c}"] is not None
            else None
            for c in mcols
        }
        rep = {
            "terminal_stage": term,
            "stages": stages,
            "flag_counts": flag_counts,
            "totals": keep_block(glob),
            "by": by,
            "metrics": metrics,
        }
        with open(os.path.join(self.store.root, "report.json"), "w") as fh:
            json.dump(rep, fh, indent=2, sort_keys=True)
        return rep
