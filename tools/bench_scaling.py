"""N-vs-4N scaling study (BASELINE.md protocol, north-rule evidence).

Runs bench.py as a subprocess at two parallelism levels (default a
quarter of the host's cores and all of them, e.g. 1 and 4 on a 4-core
host) on identical input + seeds, reports throughput at both and the
scaling efficiency  eff = (T_N / T_4N) / (4N / N). Its precondition,
identical pipeline output whatever the layout, is a tier-1 test of its
own: tests/test_pipeline.py::test_output_is_identical_at_any_parallelism.

Usage (from the repo root): PYTHONPATH=. python tools/bench_scaling.py [out.md]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
from exome_qc_library_spark.session import default_parallelism  # noqa: E402

# N and 4N parallelism levels. The default uses every host core at the
# top level; SPARK_GRAFT_LEVELS="4,16" on a 32-vCPU host runs the same
# protocol at half envelope — on a single-socket box 32 threads share
# one memory bus (the r5 CPU-inflation finding), whereas the north
# rule's real topology (N → 4N executors) scales sockets and bandwidth
# together, which the half-envelope variant models more faithfully.
_CORES = default_parallelism()
LEVELS = tuple(
    int(x)
    for x in os.environ.get(
        "SPARK_GRAFT_LEVELS", f"{max(1, _CORES // 4)},{_CORES}"
    ).split(",")
)
if len(LEVELS) != 2 or LEVELS[0] >= LEVELS[1]:
    # fail BEFORE the hour of benching, not at the `n, m = LEVELS` report.
    # Strictly increasing (round-6 review): "32,8" would silently invert
    # the efficiency formula (~16x too large) and "8,8" reports eff=1.0
    # evidence from a non-scaling run
    raise SystemExit(
        f"SPARK_GRAFT_LEVELS must name two strictly increasing levels (N,4N); got {LEVELS}"
    )


def wait_for_quiet(threshold: float, timeout_s: float, poll_s: float = 10.0) -> float:
    """Block until 1-min loadavg < ``threshold`` (or ``timeout_s`` passes),
    then return the loadavg seen. Round-3 lesson (VERDICT #4): quiet
    valleys on this shared box close within ~2 min — fire the repeat-pair
    the INSTANT load drops instead of hoping a fixed schedule lands in
    one. ``threshold <= 0`` disables the wait (old behavior)."""
    if threshold <= 0:
        return os.getloadavg()[0]
    t0 = time.time()
    while True:
        load = os.getloadavg()[0]
        if load < threshold:
            return load
        if time.time() - t0 > timeout_s:
            print(
                json.dumps({"quiet_wait_timed_out": True, "load": round(load, 2)}),
                flush=True,
            )
            return load
        time.sleep(poll_s)


def _synth_token() -> str:
    """Content hash of the synthesizer module → cache-key component
    (round-4 ADVICE #3: a cache keyed on doc count alone silently reused
    stale corpora after generator changes). SPARK_GRAFT_RESYNTH=1 forces
    a fresh synth regardless."""
    import hashlib

    h = hashlib.sha256()
    # lexicons.py feeds synthesize_pages' word tables — a lexicon edit
    # without a synth.py edit must also invalidate the cache (round-6
    # review: the "ser" lexicon fix would have silently benched the
    # pre-fix corpus otherwise)
    for mod in ("synth.py", os.path.join("functions", "lexicons.py")):
        with open(os.path.join(REPO, "exome_qc_library_spark", mod), "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:10]


def synth_pages_once(docs: int) -> str:
    """Pre-synthesize the scaling corpus ONCE and return its parquet path:
    each level run then starts its timed section within seconds of launch
    instead of after a ~1-2 min synth+write, so a whole N/4N pair has a
    fighting chance of fitting inside one co-tenant valley. The path is
    keyed on (doc count, synthesizer-source hash) so a generator change
    can never silently benchmark against a stale corpus."""
    path = f"/tmp/bench_scaling_pages_{docs}_{_synth_token()}"
    if os.environ.get("SPARK_GRAFT_RESYNTH") != "1" and os.path.exists(
        os.path.join(path, "_SUCCESS")
    ):
        return path
    code = f"""
import sys
sys.path.insert(0, {REPO!r})
from exome_qc_library_spark.session import build_session
from exome_qc_library_spark.synth import synthesize_pages
spark = build_session(app_name="synth_scaling")
synthesize_pages(spark, n_docs={docs}, seed=42, with_edge_cases=False).write.mode("overwrite").parquet({path!r})
spark.stop()
"""
    subprocess.run(
        [sys.executable, "-c", code],
        env=dict(os.environ, PYTHONPATH=REPO),
        check=True,
        capture_output=True,
    )
    return path


def run_level(cpus: int, pages_dir: str | None = None) -> dict:
    # scaling runs use a larger corpus than the per-round bench so the
    # parallel fraction dominates fixed costs (Amdahl: at 200k docs the
    # ~13s of checkpoint/driver fixed cost still caps local[32] efficiency
    # near 0.55 even on an idle box; 500k pushes the cap past the gate)
    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_BENCH_DOCS=os.environ.get("SPARK_GRAFT_SCALING_DOCS", "500000"),
        SPARK_GRAFT_SKIP_QUERIES="1",
        PYTHONPATH=REPO,
    )
    if pages_dir:
        env["SPARK_GRAFT_PAGES_DIR"] = pages_dir
    last_err = None
    for attempt in range(2):  # retry once: shared-machine runs can die on OOM kills
        out = subprocess.run(
            [sys.executable, os.path.join(REPO, "bench.py")],
            env=env,
            capture_output=True,
            text=True,
        )
        lines = [l for l in out.stdout.splitlines() if l.strip().startswith("{")]
        if out.returncode == 0 and lines:
            return json.loads(lines[-1])
        last_err = out.stderr[-2000:]
        print(f"bench.py (cpus={cpus}) attempt {attempt} failed rc={out.returncode}:\n{last_err}", file=sys.stderr)
    raise RuntimeError(f"bench.py failed twice at cpus={cpus}: {last_err}")


def calibrate_level(cpus: int) -> float:
    """Machine ceiling probe: a purely parallel expression job (hard filters
    over the same synthesized pages, noop sink) at this level. On a shared
    box the achievable speedup is capped by co-tenant load — the pipeline's
    efficiency should be read against this ceiling, not against 1.0."""
    code = f"""
import sys, time, tempfile
sys.path.insert(0, {REPO!r})
from exome_qc_library_spark.session import build_session
from exome_qc_library_spark.synth import synthesize_pages
from exome_qc_library_spark.operators.hard_filters import apply_hard_filters
spark = build_session(parallelism={cpus}, app_name="cal{cpus}")
p = tempfile.mkdtemp()
docs = int(__import__("os").environ.get("SPARK_GRAFT_SCALING_DOCS", "500000"))
synthesize_pages(spark, n_docs=docs, seed=42, with_edge_cases=False).write.mode("overwrite").parquet(p+"/pg")
pg = spark.read.parquet(p+"/pg").drop("html")
apply_hard_filters(pg.limit(2000)).write.format("noop").mode("overwrite").save()
t0=time.time()
apply_hard_filters(pg).write.format("noop").mode("overwrite").save()
print("CAL", time.time()-t0)
spark.stop()
"""
    out = subprocess.run(
        [sys.executable, "-c", code], env=dict(os.environ, PYTHONPATH=REPO),
        capture_output=True, text=True, check=True,
    )
    line = [l for l in out.stdout.splitlines() if l.startswith("CAL")][-1]
    return float(line.split()[1])


def _storm_cores(r: dict) -> float | None:
    """Average cores of host *kernel* time during the run (from bench.py's
    ``host_cpu_sec`` /proc/stat deltas). This box has a bimodal kernel-storm
    mode (BENCH.md round 5) where sys time runs at 15-30 cores for minutes;
    a leg caught in one measures the storm, not the engine. None when the
    run predates the counter."""
    host = r.get("host_cpu_sec")
    wall = r.get("queries", {}).get("pipeline_e2e")
    if not host or not wall:
        return None
    return host.get("system", 0.0) / wall


def main() -> None:
    # this sandbox shares the machine with other tenants (observed 5×
    # run-to-run swings); interleaved repeats + per-level MINIMUM
    # approximate uncontended capability
    repeats = int(os.environ.get("SPARK_GRAFT_SCALING_REPEATS", "3"))
    quiet = float(os.environ.get("SPARK_GRAFT_QUIET_LOAD", "3.0"))
    quiet_timeout = float(os.environ.get("SPARK_GRAFT_QUIET_TIMEOUT", "900"))
    docs = int(os.environ.get("SPARK_GRAFT_SCALING_DOCS", "500000"))
    pages_dir = synth_pages_once(docs)
    runs: dict[int, list[dict]] = {n: [] for n in LEVELS}
    for rep in range(repeats):
        # snipe a quiet valley per PAIR. The 4N level runs FIRST: it needs
        # 4× more free cores, and valleys on this box close within ~2 min
        # — giving local[32] the valley's opening instant is the only way
        # it ever sees 32 free cores (observed: pairs launched at load 1.6
        # had co-tenants back at load 24 by the time the second level
        # started). The reported estimator is per-level MINIMA across
        # repeats, so the order does not bias the ratio.
        load0 = wait_for_quiet(quiet, quiet_timeout)
        for n in sorted(LEVELS, reverse=True):
            r = run_level(n, pages_dir)
            runs[n].append(r)
            # incremental progress line: a killed run still leaves evidence
            print(
                json.dumps(
                    {
                        "rep": rep,
                        "level": n,
                        "pipeline_sec": r["queries"]["pipeline_e2e"],
                        "pipeline_cpu_sec": r.get("pipeline_cpu_sec"),
                        "sys_cores": (
                            round(_storm_cores(r), 1)
                            if _storm_cores(r) is not None
                            else None
                        ),
                        "storm": r.get("storm"),
                        "load_at_start": round(load0, 2),
                        "load_now": round(os.getloadavg()[0], 2),
                    }
                ),
                flush=True,
            )
    # per-level minima over storm-free legs when any exist (a leg caught in
    # a kernel storm measures the storm, not the engine); fall back to all
    # legs so the report never goes empty on an all-storm campaign
    def _clean(rs: list[dict]) -> list[dict]:
        ok = [r for r in rs if r.get("storm") is not True]
        return ok or rs

    results = {
        n: min(_clean(rs), key=lambda r: r["queries"]["pipeline_e2e"])
        for n, rs in runs.items()
    }
    n, m = LEVELS
    t_n = results[n]["queries"]["pipeline_e2e"]
    t_m = results[m]["queries"]["pipeline_e2e"]
    eff = (t_n / t_m) / (m / n)
    # co-tenant-immune work-conservation estimator (round-4 VERDICT #2):
    # executor CPU seconds per level — a task waiting for a stolen core
    # burns wall-clock but not CPU, so this ratio cannot be faked by
    # scheduler noise. Ratio ≈ 1.0 ⇒ the engine does the same total work
    # at 4N as at N (no serial inflation / busy-waiting at higher
    # parallelism); the wall-based raw eff stays the gate's number.
    cpu_min = {
        lv: min(
            (
                r["pipeline_cpu_sec"]
                for r in _clean(rs)
                if r.get("pipeline_cpu_sec")
            ),
            default=None,
        )
        for lv, rs in runs.items()
    }
    cpu_ratio = (
        round(cpu_min[n] / cpu_min[m], 3) if cpu_min[n] and cpu_min[m] else None
    )
    # machine ceiling: best of `repeats` interleaved pure-parallel probes
    cal: dict[int, float] = {lv: float("inf") for lv in LEVELS}
    cal_reps = int(os.environ.get("SPARK_GRAFT_CAL_REPEATS", "1"))
    for _ in range(cal_reps):
        wait_for_quiet(quiet, quiet_timeout)
        for lv in LEVELS:
            cal[lv] = min(cal[lv], calibrate_level(lv))
            print(json.dumps({"cal_level": lv, "sec": cal[lv]}), flush=True)
    # cal_reps=0 (calibration skipped) must not leak inf/NaN into the
    # JSON report (round-6 review): publish null ceilings instead
    have_cal = all(v != float("inf") for v in cal.values())
    cal_eff = (cal[n] / cal[m]) / (m / n) if have_cal else None
    report = {
        "levels": LEVELS,
        "machine_ceiling_secs": cal if have_cal else None,
        "machine_ceiling_efficiency": round(cal_eff, 3) if cal_eff else None,
        "normalized_efficiency": round(eff / cal_eff, 3) if cal_eff else None,
        f"pipeline_sec_local{n}": t_n,
        f"pipeline_sec_local{m}": t_m,
        f"docs_per_sec_local{n}": results[n]["pipeline_docs_per_sec"],
        f"docs_per_sec_local{m}": results[m]["pipeline_docs_per_sec"],
        "scaling_efficiency": round(eff, 3),
        f"pipeline_cpu_sec_local{n}": cpu_min[n],
        f"pipeline_cpu_sec_local{m}": cpu_min[m],
        "cpu_work_conservation_ratio": cpu_ratio,
        "all_pipeline_secs": {
            str(k): [r["queries"]["pipeline_e2e"] for r in v] for k, v in runs.items()
        },
        "all_sys_cores": {
            str(k): [
                round(c, 1) if (c := _storm_cores(r)) is not None else None
                for r in v
            ]
            for k, v in runs.items()
        },
        "full": results,
    }
    print(json.dumps(report, indent=2))
    if len(sys.argv) > 1:
        with open(sys.argv[1], "w") as f:
            lines = [
                "# BENCH — scaling study (N vs 4N parallelism)\n",
                f"| level | pipeline sec | docs/sec |",
                "|---|---|---|",
            ]
            for lv in LEVELS:
                lines.append(
                    f"| local[{lv}] | {results[lv]['queries']['pipeline_e2e']} | "
                    f"{results[lv]['pipeline_docs_per_sec']} |"
                )
            lines.append(f"\nScaling efficiency (N={n} → 4N={m}): **{eff:.3f}**")
            if cpu_ratio is not None:
                lines.append(
                    f"\nCPU work-conservation ratio (executor CPU-sec at {n} / at "
                    f"{m}): **{cpu_ratio}** ({cpu_min[n]} s vs {cpu_min[m]} s) — "
                    f"co-tenant-immune: waiting for a stolen core burns wall-clock, "
                    f"not CPU. ≈1.0 means the engine does the same total work at "
                    f"both levels (no serial inflation at 4N)."
                )
            if cal_eff:
                lines.append(
                    f"\nMachine ceiling (pure-parallel expression job, same input): "
                    f"{cal_eff:.3f} → pipeline efficiency normalized to what this "
                    f"shared box can deliver: **{eff / cal_eff:.3f}**\n"
                )
            lines.append(
                f"Protocol: interleaved repeats per level on identical input "
                f"(seed 42, {docs} pre-synthesized pages incl. full pipeline + "
                f"checkpoints); per-level minimum reported — this sandbox is "
                f"shared with other tenants and single runs swing up to 5×. "
                f"Each pair fires the instant 1-min load < "
                f"{os.environ.get('SPARK_GRAFT_QUIET_LOAD', '3.0')}. Legs that "
                f"bench.py classifies as kernel storms (its `storm` field) are "
                f"excluded from the minima when a clean leg "
                f"exists (all_sys_cores lists the per-leg kernel-time cores). "
                f"All pipeline seconds:\n"
            )
            lines.append("```json")
            lines.append(json.dumps(report["all_pipeline_secs"], indent=2))
            lines.append("```")
            f.write("\n".join(lines))


if __name__ == "__main__":
    main()
