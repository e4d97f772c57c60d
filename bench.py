"""Benchmark harness (driver contract): runs the headline queries at

``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line
``{"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}``
— where ``queries`` holds the 30 slowest headline timings so the line
always fits the driver's 2,000-char stdout tail intact; the FULL registry
(every ``queries()`` entry, headline best-of-2 + the rest timed once) is
written to ``BENCH_DETAIL_r{N}.json`` in the repo.  Set
``SPARK_GRAFT_BENCH_FULL=0`` to skip the non-headline tier.

Each query executes to completion via the no-op sink (full compute, no
driver materialization) — the measured time is scan+compute+shuffle, which
is what scales to the 100 TB target.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod
from dataengineer_spark.session import build_session

#: the headline tier (best of 2), in registry order — each entry's reason
#: for being here sits on its ``__spark_entry__.REGISTRY`` row
HEADLINE = [q.name for q in entrymod.REGISTRY if q.headline]

#: Host-speed calibration probes (VERDICT r8 item 5): three cheap,
#: plan-stable queries (narrow projection / hash agg / pushed-filter agg)
#: timed best-of-3 at tier start AND tier end.  Their walls move with the
#: host (CPU contention, JIT state, page cache), not with engine changes —
#: so cross-round per-query deltas should be read NET of the calibration
#: drift (r8→r9 triage burned a manual re-measurement session on what
#: turned out to be a ~3× slower host; the r7-vs-r9 same-session A/B showed
#: the "regressed" queries actually got 3-4× faster).  The start/end pair
#: also bounds WITHIN-run drift for the long full tier.
CALIBRATION = ["q_p1_project", "q_e5_groupagg", "q_tpch_q6"]

#: Full-tier queries timed best-of-2 instead of once (VERDICT r9 item 5):
#: the stateful/streaming E11 runs pay a per-run stream-startup +
#: state-store-init cost with high host-noise variance — run-once walls
#: produced two rounds of false regression alarms (r8: a session was spent
#: disproving one; r9: q_e11_stateful's 10.0 s tier spike re-measured at
#: 1.4-1.7 s).  ~30 s of tier budget buys min-of-2 for exactly this set.
FULL_BEST_OF_2_PREFIX = "q_e11_"


def _emit_summary(
    timings: dict[str, float],
    full_timings: dict[str, float],
    errors: dict[str, str],
    sf: float,
    detail: str,
    calib: dict | None = None,
) -> None:
    """One compact JSON line (headline total + the 30 slowest headline
    timings), guaranteed to fit the driver's 2,000-char stdout tail."""
    summary = {
        "metric": "headline_queries_total_wall",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "sf": sf,
        "n_headline": len(timings),
        "n_full": len(full_timings),
        "full_total": round(sum(full_timings.values()), 3),
        "detail": detail,
        "queries": dict(sorted(timings.items(), key=lambda kv: -kv[1])[:30]),
    }
    if errors:
        summary["n_errors"] = len(errors)
    if calib:
        # compact host-speed yardstick: probe-total at tier start/end
        summary["calib"] = {
            "start": round(sum(calib["start"].values()), 3),
            "end": round(sum(calib["end"].values()), 3),
            "drift": calib["drift"],
        }
    line = json.dumps(summary)
    if len(line) > 1900:  # never let the tail cut the summary line
        summary.pop("queries")
        line = json.dumps(summary)
    print(line, flush=True)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    spark = build_session("bench")

    # JVM/codegen + file-listing warmup outside the measurement
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    from dataengineer_spark.testdata import TABLES, load_table, normalized_sf_dir

    # bench against a µs-normalized events copy (one-time ingest
    # normalization happens here, outside measurement) — production lakes
    # land µs-native; the ns testdata file is a driver-format artifact
    import tempfile

    sf_name = os.path.basename(sf_dir.rstrip("/"))
    shadow = os.path.join(tempfile.gettempdir(), f"spark_graft_lake_{sf_name}")
    sf_dir = normalized_sf_dir(spark, sf_dir, shadow)

    for t in TABLES:
        load_table(spark, sf_dir, t).count()

    qs = entrymod.queries()

    def run_once(fn) -> float:
        t0 = time.time()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        return time.time() - t0

    def drop_blocks() -> None:
        """Per-query block hygiene: ``clearCache`` only empties the SQL
        CacheManager — localCheckpoint blocks are raw persisted RDDs
        that free on (Python) frame GC, which lags the loop, so across
        ~280 queries they accumulate until executor storage is full and
        later queries measure eviction thrash instead of their plan
        (r8: q_e4_fingerprint_portable benched 24.9 s vs 2.2 s
        isolated).  Collect the dead frames, then unpersist whatever
        blocks remain."""
        import gc

        gc.collect()
        spark.catalog.clearCache()
        # memory-sink temp views from finished streaming queries pin
        # their results (and sink bookkeeping) for the session lifetime;
        # ~30 accumulate over a full run — drop the uuid-named ones
        try:
            for t in spark.catalog.listTables():
                if t.isTemporary and t.name.startswith(
                    ("stream_", "stateful_", "anomaly_")
                ):
                    spark.catalog.dropTempView(t.name)
        except Exception:  # noqa: BLE001 — hygiene must never fail a run
            pass
        try:
            for rdd in list(
                spark.sparkContext._jsc.getPersistentRDDs().values()
            ):
                rdd.unpersist()
        except Exception as exc:  # noqa: BLE001 — private py4j surface
            # warn ONCE: silently losing this hygiene would quietly
            # reintroduce the cross-query eviction thrash it exists to
            # prevent (q_e4_fingerprint_portable 24.9 s vs 2.2 s)
            if not getattr(drop_blocks, "_warned", False):
                drop_blocks._warned = True
                print(
                    f"bench: RDD block hygiene unavailable ({exc!r}); "
                    "full-tier timings may include cache-eviction thrash",
                    file=sys.stderr,
                )

    def calibrate() -> dict[str, float]:
        """Best-of-3 walls for the CALIBRATION probes — host-speed
        yardstick recorded at tier start and end (block hygiene between
        runs, same as the measured queries)."""
        probes: dict[str, float] = {}
        for name in CALIBRATION:
            best = None
            for _ in range(3):
                # a probe failure must never abort the run: the
                # measurement loops record errors and continue, and the
                # calibration is strictly less important than they are
                try:
                    dt = run_once(qs[name])
                except Exception as exc:  # noqa: BLE001
                    errors[f"calibration:{name}"] = repr(exc)[:200]
                    break
                best = dt if best is None else min(best, dt)
                drop_blocks()
            if best is not None:
                probes[name] = round(best, 3)
        return probes

    timings: dict[str, float] = {}
    errors: dict[str, str] = {}

    calib_start = calibrate()

    for name in HEADLINE:
        fn = qs[name]
        # steady-state: best of 2 runs — first run pays one-time plan/codegen
        # cost that amortizes away at production data volumes
        try:
            timings[name] = round(min(run_once(fn), run_once(fn)), 3)
        except Exception as exc:  # noqa: BLE001 — one bad query must not
            errors[name] = repr(exc)[:200]  # sink the whole artifact
        drop_blocks()

    # crash insurance: if the (longer) full tier below is ever cut short
    # by a driver timeout, stdout already ends with a parseable headline
    # summary — the final print below supersedes it in the normal case
    _emit_summary(timings, {}, errors, sf, detail="pending")

    # full-registry tier (VERDICT r7 item 2): every non-headline query
    # timed ONCE — cheaper than the headline's best-of-2, methodology
    # held constant round-over-round, so the 130+ previously-untracked
    # queries (remaining TPC-H shapes, E14 lake ops, portable twins) get
    # cross-round regression visibility
    full_timings: dict[str, float] = {}
    if os.environ.get("SPARK_GRAFT_BENCH_FULL", "1") != "0":
        for name, fn in qs.items():
            if name in HEADLINE:
                continue
            try:
                dt = run_once(fn)
                if name.startswith(FULL_BEST_OF_2_PREFIX):
                    # stateful-streaming noise guard: min-of-2 (see
                    # FULL_BEST_OF_2_PREFIX), block hygiene between runs
                    drop_blocks()
                    dt = min(dt, run_once(fn))
                full_timings[name] = round(dt, 3)
            except Exception as exc:  # noqa: BLE001
                errors[name] = repr(exc)[:200]
            drop_blocks()

    calib_end = calibrate()

    total = round(sum(timings.values()), 3)
    full_total = round(sum(full_timings.values()), 3)
    calib_payload = {
        "start": calib_start,
        "end": calib_end,
        # within-run drift: end-of-tier host speed over start-of-tier
        "drift": round(
            sum(calib_end.values()) / max(sum(calib_start.values()), 1e-9), 3
        ),
    }
    detail_payload = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "full_total": full_total,
        "n_headline": len(timings),
        "n_full": len(full_timings),
        "calibration": calib_payload,
        "queries": timings,
        "full_queries": full_timings,
        "errors": errors,
    }
    # The driver's BENCH_r{N}.json artifact keeps only the LAST ~2,000
    # chars of stdout, so a single fat JSON line loses its head and
    # parses as null (VERDICT r7 item 7).  Persist the FULL timing map to
    # the repo as BENCH_DETAIL_r{N}.json and keep stdout's FINAL line a
    # compact summary (headline total + the slowest queries) that always
    # fits the tail intact.  N comes from the driver's own PROGRESS.jsonl
    # (its last line carries the CURRENT round); when that log is
    # missing/malformed, prefer the max existing BENCH_DETAIL_r* index —
    # a re-run after BENCH_r{N}.json has landed re-labels round N, not
    # N+1 (ADVICE r7) — and mark the guess in the payload.
    repo = os.path.dirname(os.path.abspath(__file__))
    import re

    n = None
    try:
        with open(os.path.join(repo, "PROGRESS.jsonl")) as fh:
            lines = [ln for ln in fh if ln.strip()]
        n = int(json.loads(lines[-1])["round"])
    except (OSError, ValueError, KeyError, IndexError, TypeError):
        # a malformed/absent progress log must never lose the run: the
        # stdout JSON line and detail file still have to be written
        pass
    if n is None:
        detail_rounds = [
            int(m.group(1))
            for f in os.listdir(repo)
            if (m := re.match(r"BENCH_DETAIL_r(\d+)", f))
        ]
        bench_rounds = [
            int(m.group(1))
            for f in os.listdir(repo)
            if (m := re.fullmatch(r"BENCH_r(\d+)\.json", f))
        ]
        if detail_rounds:
            n = max(detail_rounds)
        else:
            n = (max(bench_rounds) if bench_rounds else 0) + 1
        detail_payload["round_inferred"] = n
    # non-default scale runs (e.g. the sf1 10x sweep) get their own file
    # so they never clobber the driver-scale detail; same for non-default
    # core counts (VERDICT r11 item 5: the driver's 8-core scaling run
    # keyed to the same filename and overwrote the 32-core artifact)
    tag = "" if abs(sf - 0.1) < 1e-9 else f"_sf{sf:g}"
    # the core count the session really runs with, not the env default
    cpus = spark.sparkContext.defaultParallelism
    if cpus != 32:
        tag += f"_c{cpus}"
    detail = os.path.join(repo, f"BENCH_DETAIL_r{n:02d}{tag}.json")
    try:
        with open(detail, "w") as fh:
            json.dump(detail_payload, fh, indent=1, sort_keys=True)
            fh.write("\n")
    except OSError:
        pass  # read-only checkout: the stdout summary still survives
    _emit_summary(
        timings, full_timings, errors, sf, os.path.basename(detail),
        calib=calib_payload,
    )
    spark.stop()


if __name__ == "__main__":
    main()
