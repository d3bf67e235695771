"""Production entry point: validate an audio clip table end-to-end.

spark-submit shape (the north rule's deployment mode):

    spark-submit --py-files odl_spark.zip scripts/run_validation.py \
        --clips /path/clips --refs /path/refs --out /path/out \
        [--manifest /path/manifest] [--resume-run-id RUN] [--pt-col pt]

Local demo (synthesizes a batch when --clips is omitted):

    python scripts/run_validation.py --synthesize 5000 --out /tmp/out

Writes to --out:
  violations/   (rule_id, clip_id, column, message, partition_id)
  audit/        per-partition lineage + metrics rows (AUDIT_SCHEMA)
  summary.json  per-rule matrix + metrics + wall times

With --pt-col the run is checkpoint-resumable: a ledger under
<out>/ledger tracks completed partitions; rerunning the same
--resume-run-id skips them (plans/ledger.py).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from open_data_linter_spark.plans.ledger import resumable_validation  # noqa: E402
from open_data_linter_spark.plans.run import ValidationRun  # noqa: E402
from open_data_linter_spark.rules.audio_rules import GATE_RULES, build_audio_ruleset  # noqa: E402
from open_data_linter_spark.rules.drift import joint_histograms  # noqa: E402
from open_data_linter_spark.session import get_spark  # noqa: E402
from open_data_linter_spark.sources.fixtures import DUR_BIN_EDGES, clip_manifest  # noqa: E402


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--clips", help="parquet path of the clip table")
    p.add_argument("--refs", help="parquet path of the reference table")
    p.add_argument("--manifest", help="parquet path of the clip_id manifest")
    p.add_argument("--baseline", help="parquet path of frozen drift histograms")
    p.add_argument("--out", required=True)
    p.add_argument("--synthesize", type=int, default=0,
                   help="synthesize N clips instead of reading --clips")
    p.add_argument("--master", default=None)
    p.add_argument("--resume-run-id", default=None)
    p.add_argument("--pt-col", default=None,
                   help="partition column for checkpoint-resumable mode")
    p.add_argument("--violation-sample-mod", type=int, default=1,
                   help="keep ~1/mod violation evidence rows (deterministic "
                        "hash of (rule_id, clip_id); counts stay exact)")
    p.add_argument("--n-pts", type=int, default=8,
                   help="derived partition count when --pt-col is absent")
    args = p.parse_args()

    spark = get_spark("odl-validation", master=args.master)
    t0 = time.time()

    if args.synthesize:
        from open_data_linter_spark.audio.synth import (
            synthesize_clips, synthesize_reference)

        clips = synthesize_clips(spark, args.synthesize, 32)
        refs = synthesize_reference(spark, args.synthesize, 32)
        manifest = clip_manifest(spark, args.synthesize)
    else:
        if not args.clips:
            p.error("--clips or --synthesize required")
        clips = spark.read.parquet(args.clips)
        refs = spark.read.parquet(args.refs) if args.refs else None
        manifest = spark.read.parquet(args.manifest) if args.manifest else None

    from open_data_linter_spark.audio.synth import codec_registry_pdf

    ctx = {
        "reference_clips": refs,
        "clip_manifest": manifest,
        "codec_registry": spark.createDataFrame(codec_registry_pdf()),
        "gate_rules": GATE_RULES,
    }
    if args.baseline:
        b = spark.read.parquet(args.baseline).collect()
        hist: dict = {}
        for r in b:
            hist.setdefault(r["column"], {})[float(r["bin"])] = int(r["expected_count"])
        ctx["baseline_hist"] = hist
    else:
        # no frozen baseline: freeze from the batch itself (drift rules pass
        # trivially; a real deployment supplies --baseline)
        ctx["baseline_hist"] = joint_histograms(
            clips, [("sr_hz", None), ("dur_ms", DUR_BIN_EDGES)]
        )

    rules = build_audio_ruleset()
    os.makedirs(args.out, exist_ok=True)

    if args.pt_col:
        if args.pt_col not in clips.columns:
            # derive a stable partition key when the table has none. COARSE
            # on purpose: a pt is a resume checkpoint unit (per-pt fixed job
            # costs are real) — at scale one pt should be many GB.
            from pyspark.sql import functions as F

            clips = clips.withColumn(
                args.pt_col,
                F.pmod(F.xxhash64("clip_id"), F.lit(args.n_pts)).cast("int"),
            )
        run_id = args.resume_run_id or f"run-{int(t0)}"
        done = resumable_validation(
            spark, clips, rules,
            ledger_path=os.path.join(args.out, "ledger"),
            audit_path=os.path.join(args.out, "audit"),
            run_id=run_id, pt_col=args.pt_col, ctx=ctx,
        )
        summary = {"run_id": run_id, "partitions_processed": done,
                   "wall_sec": round(time.time() - t0, 2)}
        print(json.dumps(summary))
        spark.stop()
        return 0

    # evidence rows go to the sink; the summary never reads driver cells
    run = ValidationRun(spark, rules, collect_violation_rows=True,
                        max_collected_violations=0)
    report = run.run(clips, ctx)
    if report.violations is not None:
        from open_data_linter_spark.plans.run import sample_violations

        sample_violations(
            report.violations, args.violation_sample_mod
        ).write.mode("overwrite").parquet(os.path.join(args.out, "violations"))
    run.audit_rows(report).write.mode("overwrite").parquet(
        os.path.join(args.out, "audit"))
    summary = {
        "run_id": report.run_id,
        "matrix": {k: v for k, v in report.matrix().items()},
        "metrics": report.metrics,
        "wall_sec_by_family": {k: round(v, 2) for k, v in report.wall_secs.items()},
        "wall_sec": round(time.time() - t0, 2),
        "blocked": report.blocked,
    }
    with open(os.path.join(args.out, "summary.json"), "w") as f:
        json.dump(summary, f, indent=2, default=str)
    print(json.dumps({"ok": all(v is not False for v in report.matrix().values()),
                      **{k: summary[k] for k in ("run_id", "wall_sec", "blocked")}}))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
