"""The closed loop shared by every workload: set-up, the collecting warm-up
pass, whole timed passes for the run length, then the output checks."""

from __future__ import annotations

import contextlib
import gc
import os
import traceback
from statistics import median

import layers
from harness import Tracer, WorkerPeak, fold_event_log, noop, now, start_spark, to_pandas

T_PROCESS = now()


def _round(ops, sink, tracer, prefix=""):
    """Run every op once; return ({op: output}, {op: error}, seconds spent
    in the ops that count towards ``pass_s``)."""
    outs, errs = {}, {}
    t_timed = 0.0
    for op in ops:
        t0 = now()
        try:
            outs[op.name] = tracer.run_op(op, sink, key=prefix + op.key)
        except Exception as e:  # noqa: BLE001 - an op that raises counts as failed
            errs[op.name] = f"{type(e).__name__}: {str(e)[:2000]}"
            traceback.print_exc()
        if op.timed:
            t_timed += now() - t0
    return outs, errs, t_timed


def run(module, args, work: str) -> dict:
    trace = bool(args.trace)
    cpus = max(1, min(4, os.cpu_count() or 1))
    with WorkerPeak() if trace else contextlib.nullcontext() as peak:
        spark = start_spark(cpus, work, trace)
        try:
            t_session = now() - T_PROCESS
            tracer = Tracer(spark, trace)
            wl = module.Workload(spark, args.seed, work, tracer)
            ops = wl.ops()
            t_warm = now()
            outs, round_errs, _ = _round(ops, to_pandas, tracer, prefix="warm:")
            t_warm = now() - t_warm
            rounds = [(ops, round_errs)]
            setup_s = now() - T_PROCESS
            passes = []
            t_start = now()
            while not passes or now() - t_start < args.seconds:
                # collect garbage between passes, outside the timed region, so
                # a pause owed to the previous pass does not land in this one
                gc.collect()
                spark.sparkContext._jvm.System.gc()
                _, errs, t = _round(ops, noop, tracer)
                passes.append(t)
                rounds.append((ops, errs))
            t_check = now()
            try:
                check_errs = wl.check(outs)
            except KeyError as e:  # an output the checks need is missing
                check_errs = {op.name: f"not checked: no output {e}" for op in ops}
            t_check = now() - t_check
        finally:
            spark.stop()

    known = getattr(wl, "KNOWN_FAULTS", set())
    attempted = failed = 0
    correct = True
    for round_ops, errs in rounds:
        for op in round_ops:
            attempted += 1
            if op.name in errs or any(c in check_errs for c in op.judged_by()):
                failed += 1
                correct = correct and op.name in known
    seen = dict(check_errs)
    for i, (_, errs) in enumerate(rounds):
        for op, err in errs.items():
            seen.setdefault(op, f"round {i}: {err}")
    for op, err in sorted(seen.items()):
        print(f"FAILED {op}: {err}")
    pass_s = median(passes)
    print(f"{module.Workload.name}: setup_s={setup_s:.3f} pass_s={pass_s:.3f} "
          f"passes={len(passes)} check_s={t_check:.1f} trace={int(trace)}")
    print(f"warm-up round {t_warm:.2f} s; timed passes: "
          + " ".join(f"{p:.2f}" for p in passes))
    print("per call (median wall_s): " + " ".join(
        f"{k}={median(v['wall_s']):.3f}" for k, v in tracer.times.items()
        if "wall_s" in v and not k.startswith(("warm:", "setup:"))))
    if trace:
        print(f"jvm_peak_mb={peak.jvm_kib / 1024.0:.0f} (reference only)")
        extras = getattr(wl, "layer_extras", None)
        metrics = _per_layer(work, tracer, len(passes), t_session, peak.peak_mb, extras)
    else:
        metrics = {"setup_s": {"value": setup_s, "unit": "s"},
                   "pass_s": {"value": pass_s, "unit": "s"}}
    return {"correct": correct, "attempted": attempted, "failed": failed,
            "metrics": metrics}


def _per_layer(work, tracer, n_passes, t_session, peak_mb, extras) -> dict:
    folded = fold_event_log(os.path.join(work, "eventlog"))
    base = {"session.start_s": t_session, "session.py_worker_peak_mb": peak_mb}
    for key, vals in tracer.times.items():
        if key.startswith("setup:"):
            base[key[6:] + ".wall_s"] = sum(vals["wall_s"])
            continue
        if key.startswith("warm:"):
            if "plan_s" in vals:
                base[key[5:] + ".warm_plan_s"] = vals["plan_s"][0]
            continue
        for m, xs in vals.items():
            base[f"{key}.{m}"] = median(xs)
    for key, vals in folded.items():
        if key.startswith(("warm:", "setup:")):
            continue
        for m, v in vals.items():
            if m != "sites":
                base[f"{key}.{m}"] = v / n_passes
    if extras:
        base.update(extras(folded, n_passes))
    return {n: {"value": float(base.get(n, 0.0)), "unit": u}
            for n, u in layers.UNITS.items()}
