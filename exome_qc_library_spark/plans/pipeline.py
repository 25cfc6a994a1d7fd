"""Generic staged pipeline runner with existence-gated checkpoint resume.

The Spark re-expression of the reference's driver loop
(``/root/reference/exome_qc/exome_qc.py:68-588``): stepcount 1..N, each
stage gated on ``check_exists(stage_output)`` (``shared/utils.py:227-247``)
— skip if present, else compute from the previous checkpoint and
materialize. Stages are pure ``DataFrame → DataFrame`` functions;
the runner owns materialization, manifests (params/lineage/metrics)
and accounting, so stage code stays declarative for Catalyst.
"""

from __future__ import annotations

import os
import time
from collections.abc import Callable
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.flags import flag_count_df, flag_vocab
from ..sources.checkpoint import CheckpointStore


def _attach_accounting_observation(out: DataFrame, acct_cols: tuple[str, ...]):
    """Fold per-stage flag accounting into the checkpoint-write job.

    When every accounted flag column carries a ``flag_vocab`` (recorded by
    ``add_flags`` as column metadata), the per-tag occurrence counts are
    fixed aggregate expressions — so they ride the materialization job as
    observed metrics (``df.observe``) instead of costing a second full
    scan per column afterwards. At 100 TB that removes two terminal-table
    scans per stage; on the bench it removes the accounting jobs + their
    driver gaps from the serial tail (round-5 job census, BENCH.md).

    Returns ``(observed_df, observation, plan)`` where ``plan`` maps each
    column to its (tag → metric alias) table, or ``(out, None, {})`` when
    any column lacks a vocabulary (generic stages keep the scan path).
    """
    from pyspark.sql import Observation

    def _eq(tag):
        # a (x, _t=tag) default-arg lambda would be read by F.filter as the
        # two-arg (element, index) form — close over the tag instead
        return lambda x: x == F.lit(tag)

    aggs, plan = [], {}
    for ci, ac in enumerate(acct_cols):
        vocab = flag_vocab(out, ac)
        if vocab is None:
            return out, None, {}
        sz = F.coalesce(F.size(F.col(ac)), F.lit(0))
        tag_alias = {}
        for ti, t in enumerate(vocab):
            a = f"c{ci}_t{ti}"
            tag_alias[t] = a
            aggs.append(F.sum(F.size(F.filter(F.col(ac), _eq(t)))).alias(a))
        aggs.append(F.count_if(sz == 0).alias(f"c{ci}_empty"))
        aggs.append(F.sum(sz).alias(f"c{ci}_total"))
        plan[ac] = (ci, tag_alias)
    obs = Observation()
    return out.observe(obs, *aggs), obs, plan


def _accounting_df_from_metrics(
    df: DataFrame, metrics: dict, ci: int, tag_alias: dict[str, str]
) -> DataFrame | None:
    """Rebuild the ``flag_count_df`` table from observed metrics; None when
    the per-tag sums don't reconcile with the observed occurrence total
    (an out-of-vocabulary tag slipped in → caller reruns the scan path)."""
    counts = {t: int(metrics.get(a) or 0) for t, a in tag_alias.items()}
    if sum(counts.values()) != int(metrics.get(f"c{ci}_total") or 0):
        return None
    rows = [(t, n) for t, n in counts.items() if n > 0]
    empty = int(metrics.get(f"c{ci}_empty") or 0)
    if empty > 0:
        rows.append((None, empty))  # explode_outer's NULL row for flagless docs
    schema = T.StructType(
        [
            T.StructField("flag", T.StringType(), True),
            T.StructField("n", T.LongType(), False),
        ]
    )
    return df.sparkSession.createDataFrame(rows, schema)


@dataclass
class Stage:
    name: str
    fn: Callable[[DataFrame], DataFrame]
    params: dict[str, Any] = field(default_factory=dict)
    # flag column(s) to snapshot accounting for (the reference's per-stage
    # count_failing reports, shared/variant_qc.py:638-723); only written
    # when the stage materializes. A single name or None is normalized to
    # a tuple on construction.
    account_flags: str | tuple[str, ...] | None = None
    # materialize=False chains this stage lazily into the next checkpoint —
    # the reference checkpoints after EVERY step and flags the cost
    # ("constant checkpointing is expensive", variant_qc.py:783-784); here
    # cheap expression stages fuse into one codegen'd write
    materialize: bool = True

    def __post_init__(self) -> None:
        if isinstance(self.account_flags, str):
            self.account_flags = (self.account_flags,)
        else:
            self.account_flags = tuple(self.account_flags or ())


def _flag_counts_name(stage: str, i: int, col: str) -> str:
    """Accounting checkpoint of the ``i``-th accounted column present in the
    stage's output: the first takes the bare name, later ones a suffix."""
    return f"{stage}__flag_counts" + ("" if i == 0 else f"_{col}")


@dataclass
class StageResult:
    name: str
    resumed: bool
    seconds: float
    rows: int | None


class Pipeline:
    def __init__(self, stages: list[Stage], store: CheckpointStore) -> None:
        self.stages = stages
        self.store = store
        self.results: list[StageResult] = []

    def _write_flag_counts(self, st: Stage, i: int, col: str, counts: DataFrame) -> None:
        self.store.write(
            counts,
            _flag_counts_name(st.name, i, col),
            params={"of": st.name, "column": col},
            parent=st.name,
            count_rows=False,
        )

    def _next_checkpoint_resumes(self, i: int, force_idx: int) -> bool:
        """True iff the next materialized stage at/after ``i`` will read its
        checkpoint back (exists and not forced stale by ``from_stage``) —
        in which case every lazy stage in between is discarded work."""
        for j in range(i, len(self.stages)):
            if self.stages[j].materialize:
                return j < force_idx and self.store.exists(self.stages[j].name)
        return False

    def run(self, df: DataFrame, from_stage: str | None = None) -> DataFrame:
        """Run all stages; any stage whose checkpoint exists is read back
        instead of recomputed (cold run ≡ resumed run, FIXTURES.md §7.4).

        ``from_stage`` forces recomputation from that stage on: checkpoints
        of stages at/after it are treated as STALE and rebuilt (the
        reference's "rerun from step N" knob), while stages before it still
        resume from their checkpoints as usual.

        Lazy (``materialize=False``) stage params fold into the NEXT
        checkpoint's manifest; a TRAILING lazy stage therefore has no
        manifest to record its params in — they are visible only in the
        returned DataFrame's lineage. Keep the terminal stage materialized
        when the manifest record matters.
        """
        names = [s.name for s in self.stages]
        if from_stage is not None and from_stage not in names:
            raise ValueError(f"unknown stage {from_stage!r}")
        force_idx = names.index(from_stage) if from_stage is not None else len(names)
        # row counting is one extra job per checkpoint; only the terminal
        # stage needs it for the manifest (intermediate row counts are
        # recoverable from parquet footers). Last MATERIALIZED stage by
        # index (round-6 review: a name compare against stages[-1] was never
        # True when the final stage is lazy, so no checkpoint recorded rows)
        last_mat = max(
            (j for j, s in enumerate(self.stages) if s.materialize), default=-1
        )
        prev_name = None
        force = False
        pending_params: dict[str, Any] = {}
        for i, st in enumerate(self.stages):
            if i >= force_idx:
                force = True
            t0 = time.monotonic()
            if st.materialize and not force and self.store.exists(st.name):
                df = self.store.read(st.name)
                pending_params = {}
                # backfill accounting checkpoints lost to a crash between
                # the stage write and the flag-count writes (round-6
                # review): resume would otherwise skip the stage and leave
                # report() silently missing that stage's histograms forever
                acct_cols = tuple(ac for ac in st.account_flags if ac in df.columns)
                for ac_i, ac in enumerate(acct_cols):
                    if not self.store.exists(_flag_counts_name(st.name, ac_i, ac)):
                        self._write_flag_counts(st, ac_i, ac, flag_count_df(df, ac))
                self.results.append(
                    StageResult(st.name, True, time.monotonic() - t0, None)
                )
            elif not st.materialize and self._next_checkpoint_resumes(i, force_idx):
                # a lazy stage feeding a checkpoint that will be read back is
                # a guaranteed no-op — skip fn entirely (stage functions may
                # fire driver-side jobs at build time, e.g. the iterative
                # outlier loop's per-round stats)
                self.results.append(
                    StageResult(st.name, True, time.monotonic() - t0, None)
                )
            else:
                out = st.fn(df)
                if st.materialize:
                    acct_cols = tuple(ac for ac in st.account_flags if ac in out.columns)
                    obs, obs_plan = None, {}
                    if acct_cols:
                        out, obs, obs_plan = _attach_accounting_observation(
                            out, acct_cols
                        )
                    df = self.store.write(
                        out,
                        st.name,
                        params={**pending_params, st.name: st.params},
                        parent=prev_name,
                        count_rows=i == last_mat,
                    )
                    pending_params = {}
                    obs_metrics = obs.get if obs is not None else {}
                    for ac_i, ac in enumerate(acct_cols):
                        acct = None
                        if ac in obs_plan:
                            acct = _accounting_df_from_metrics(
                                df, obs_metrics, *obs_plan[ac]
                            )
                        if acct is None:
                            acct = flag_count_df(df, ac)
                        self._write_flag_counts(st, ac_i, ac, acct)
                    man = self.store.manifest(st.name) or {}
                    rows = man.get("rows")
                else:
                    # lazy stage: params fold into the next checkpoint's manifest
                    df = out
                    pending_params[st.name] = st.params
                    rows = None
                self.results.append(
                    StageResult(st.name, False, time.monotonic() - t0, rows)
                )
            if st.materialize:
                prev_name = st.name
        return df

    def report(
        self,
        group_cols: tuple[str, ...] = ("source_file", "lang_id"),
        metric_cols: tuple[str, ...] = (
            "perplexity",
            "word_count",
            "stopword_density",
            "symbol_ratio",
        ),
        quantiles: tuple[float, ...] = (0.05, 0.25, 0.5, 0.75, 0.95),
        write_json: bool = True,
    ) -> dict[str, Any]:
        """Consolidated end-of-run QC report — the engine's analog of the
        reference's per-stage distribution plots and histogram blocks
        (``exome_qc/exome_qc.py:186-194``, ``shared/samples_qc.py:348-359,
        489-495``), emitted as ONE JSON artifact per pipeline run
        (round-5 VERDICT #5).

        Cost contract: NO new table scans. Per-stage rows/params come from
        the checkpoint manifests; per-stage flag histograms from the tiny
        ``__flag_counts`` accounting checkpoints already written by
        :meth:`run`; keep-rates by group and metric quantiles from ONE
        bounded ``cube`` aggregation over the terminal checkpoint
        (``grouping_id`` disambiguates cube margins from genuinely-NULL
        group values, e.g. the NULL ``lang_id`` of empty docs). Columns
        named in ``group_cols``/``metric_cols`` that the terminal table
        lacks are skipped, so the report composes with any stage list.

        Returns the report dict; with ``write_json`` also persists it as
        ``report.json`` in the store root, next to the stage dirs it
        summarizes."""
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
                }
            )
            # run() suffixes checkpoint names from the declared tuple FILTERED
            # to columns present in the stage output, so the name alone can't
            # say which column a checkpoint counts — trust the manifest's
            # recorded "column" param instead (falling back to the name-derived
            # guess for pre-param stores).
            candidates = {
                _flag_counts_name(st.name, i, ac): ac
                for i, ac in enumerate(st.account_flags)
            }
            for cname, name_guess in sorted(candidates.items()):
                if not self.store.exists(cname):
                    continue
                cman = self.store.manifest(cname) or {}
                col = (cman.get("params") or {}).get("column") or name_guess
                flag_counts.setdefault(st.name, {})[col] = {
                    (r["flag"] if r["flag"] is not None else "__none__"): r["n"]
                    for r in self.store.read(cname).collect()
                }
        df = self.store.read(term)
        gcols = [c for c in group_cols if c in df.columns]
        mcols = [c for c in metric_cols if c in df.columns]
        qs = list(quantiles)
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
        # only dir-backed stores have a local root to write next to; a
        # catalog-backed store's root may be empty or never created
        if (
            write_json
            and hasattr(self.store.fmt, "data_files")
            and os.path.isdir(getattr(self.store, "root", ""))
        ):
            import json

            with open(os.path.join(self.store.root, "report.json"), "w") as fh:
                json.dump(rep, fh, indent=2, sort_keys=True)
        return rep
