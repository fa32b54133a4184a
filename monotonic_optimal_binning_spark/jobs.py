"""spark-submit job entry points (north_rule: "packaged for spark-submit
--py-files ... resumable from per-partition checkpoints with lineage +
row-count/merge-iteration metrics").

Usage on a cluster:

    zip -r mob_spark.zip monotonic_optimal_binning_spark
    spark-submit --py-files mob_spark.zip \\
        --master yarn --deploy-mode cluster \\
        run_job.py fit-woe --input <table-or-path> --x n_tok --y label \\
        --group-col source --workdir /tmp/mob_run1

(or ``python -m monotonic_optimal_binning_spark.jobs ...`` locally).
Each stage is an idempotent checkpoint (plans/checkpoint.py): re-running a
killed job replays only missing stages; ``_LINEAGE.json`` records row
counts, wall times, and merge-iteration metrics per stage.
"""

from __future__ import annotations

import argparse
import json
import os
from typing import Optional

from pyspark.sql import SparkSession

from .artifacts import save_json
from .core.constraints import BinningConstraints
from .functions.timeutil import pin_utc
from .operators.asof import asof_join
from .operators.binning import (
    SparkMonotonicBinner,
    _json_float,
    fit_binners_per_group,
)
from .plans.checkpoint import PipelineRun, run_stage


def _spark(app: str) -> SparkSession:
    return SparkSession.builder.appName(app).getOrCreate()


def _read_input(
    spark: SparkSession, target: str, fmt: str = None, options: str = None
):
    """Route --input through sources.tables.read_table: parquet path /
    catalog identifier (Iceberg when a catalog is configured) / forced
    --input-format DataSource with comma-separated --input-options
    ``k=v`` reader options. Bare relative filenames with no separator
    read as TABLE names — pass paths absolute."""
    from .sources.tables import read_table

    opts = None
    if options:
        opts = dict(kv.split("=", 1) for kv in options.split(","))
    return read_table(spark, target, fmt=fmt, options=opts)


def _ingest_signature(target: str) -> str:
    """Content-identity string for a gate key: for a filesystem input, the
    sorted data-file listing with sizes and mtimes (an in-place rewrite at
    the same path changes it); for a catalog identifier, the identifier
    itself (callers salt with --run-id after in-place rewrites)."""
    if not os.path.exists(target):
        return target
    if os.path.isfile(target):
        st = os.stat(target)
        return f"{target}|{st.st_size}|{st.st_mtime_ns}"
    parts = [target]
    for root, dirs, files in os.walk(target):
        dirs.sort()
        for name in sorted(files):
            if name.startswith((".", "_")):  # _SUCCESS, .crc side files
                continue
            path = os.path.join(root, name)
            st = os.stat(path)
            rel = os.path.relpath(path, target)
            parts.append(f"{rel}|{st.st_size}|{st.st_mtime_ns}")
    return "\n".join(parts)


def _parse_prebins(v: str):
    return v if v in ("auto", "exact") else int(v)


def fit_woe_job(args) -> None:
    """Stage 1: (optional) as-of join + trailing-horizon features.
    Stage 2: per-group fit. Stage 3: WoE transform written partitioned by
    group. With ``--horizons``, the event table also contributes
    point-in-time aggregation features (the right stream's activity over
    each trailing horizon as of every observation) in the same stage —
    the as-of join carries the LATEST event value, the horizons carry
    trailing sums/counts; both leakage-free by construction."""
    spark = _spark("mob-fit-woe")
    pin_utc(spark)
    run = PipelineRun(root=args.workdir)

    df = _read_input(spark, args.input, getattr(args, "input_format", None), getattr(args, "input_options", None))

    constraints = BinningConstraints(
        max_bins=args.max_bins, min_bins=args.min_bins,
        min_samples=args.min_samples,
    )

    if args.asof_right:
        from .operators.asof import asof_agg_join, asof_decayed_join

        # per-ref override: a mixed-storage pipeline (parquet main input,
        # iceberg event table) forces formats per reference; the secondary
        # ref inherits the --input-* values only when not overridden
        right = _read_input(
            spark, args.asof_right,
            getattr(args, "asof_right_format", None)
            or getattr(args, "input_format", None),
            getattr(args, "asof_right_options", None)
            or getattr(args, "input_options", None),
        )
        feat_dir = os.path.join(args.workdir, "stage_asof")
        horizons = [float(h) for h in (args.horizons or "").split(",") if h]
        half_lives = [
            float(h) for h in (args.half_lives or "").split(",") if h
        ]

        def _features():
            out = asof_join(
                df, right, on=args.entity_col, left_ts=args.ts_col,
                value_cols=None, right_prefix="ev_",
            )
            if horizons:
                out = asof_agg_join(
                    out, right, args.entity_col, args.ts_col,
                    value=args.horizon_value, horizons_seconds=horizons,
                    prefix=f"ev_{args.horizon_value}_h",
                )
            if half_lives:
                out = asof_decayed_join(
                    out, right, args.entity_col, args.ts_col,
                    value=args.horizon_value,
                    half_lives_seconds=half_lives,
                    prefix=f"ev_{args.horizon_value}_hl",
                )
            return out

        df = run_stage(
            spark, feat_dir, "asof_features", _features,
            inputs=[args.input, args.asof_right],
            params={"entity": args.entity_col, "ts": args.ts_col,
                    "horizons": horizons or None,
                    "half_lives": half_lives or None},
            partition_by=[args.group_col] if args.group_col else None,
        )
        run.record(feat_dir)

    weight_col = getattr(args, "weight_col", None)
    if args.group_col:
        grouped = fit_binners_per_group(
            df, args.group_col, args.x, args.y,
            prebins=args.prebins, constraints=constraints,
            weight_col=weight_col,
        )
        cut_points = {
            str(g): {
                "lefts": [_json_float(v) for v in m.lefts],
                # _json_float on woes too: json.dump(allow_nan=False) would
                # otherwise crash on a non-finite WoE instead of encoding it
                # (FittedBins.to_dict treatment)
                "woes": None
                if m.woes is None
                else [_json_float(v) for v in m.woes.tolist()],
                "labels": m.labels,
                "merge_iterations": m.diagnostics["merge_phase1_iterations"]
                + m.diagnostics["merge_phase2_iterations"],
                "merge_history_len": m.diagnostics.get("merge_history_len", 0),
            }
            for g, m in grouped.items()
        }
        transform = lambda: grouped.transform(  # noqa: E731
            df, assign="woe", input_col=args.x, group_col=args.group_col,
            output_col=f"{args.x}_woe",
        )
        partition_by = [args.group_col]
    else:
        binner = SparkMonotonicBinner(
            args.x, args.y, prebins=args.prebins, constraints=constraints,
            weight_col=weight_col,
        ).fit(df)
        m = binner.model_
        cut_points = {
            "lefts": [_json_float(v) for v in m.lefts],
            "woes": None
            if m.woes is None
            else [_json_float(v) for v in m.woes.tolist()],
            "labels": m.labels,
            "merge_iterations": m.diagnostics["merge_phase1_iterations"]
            + m.diagnostics["merge_phase2_iterations"],
            # full per-iteration block snapshots (north rule: merge-iteration
            # lineage); single-model artifact so size is bounded
            "merge_history": [
                [{k: _json_float(v) for k, v in b.items()} for b in snap]
                for snap in binner.merge_history_
            ],
        }
        # continuous targets have no WoE: emit interval labels instead
        assign = "woe" if m.is_binary else "interval"
        out_col = f"{args.x}_{assign}"
        transform = lambda: binner.transform(  # noqa: E731
            df, assign=assign, output_col=out_col
        )
        partition_by = None

    os.makedirs(args.workdir, exist_ok=True)
    save_json(cut_points, os.path.join(args.workdir, "cut_points.json"))
    # full serving artifact alongside the cut-point digest: this is what
    # the `drift` subcommand scores new slices against (and what
    # FittedBins/GroupedBins.load_json serves lookups from)
    model_path = os.path.join(args.workdir, "model.json")
    (grouped if args.group_col else binner.model_).save_json(model_path)

    out_dir = os.path.join(args.workdir, "stage_transform")
    run_stage(
        spark, out_dir, "woe_transform", transform,
        inputs=[args.input],
        params={"x": args.x, "y": args.y, "group_col": args.group_col,
                "weight_col": weight_col},
        partition_by=partition_by,
        extra_metrics={"model": "cut_points.json"},
    )
    run.record(out_dir)
    print(run.save())


def _woe_shift_vs(old_model, new_model):
    """Promotion-gate metric between two fitted models: L-inf distance of
    the WoE step functions (driver-side interval algebra, NO scan).
    None when either model is non-binary or the features differ."""
    from .operators.model_diff import woe_shift_table

    try:
        t = woe_shift_table(old_model, new_model)
    except ValueError:
        return None
    return round(float(t.attrs["max_abs_woe_delta"]), 9)


def fit_incremental_job(args) -> None:
    """The daily-refit loop at 100 TB: fold ONE new partition's
    sufficient statistics into the running ``binstats.json`` artifact
    (one scan of the NEW data only — history is never rescanned), then a
    driver-side re-solve writes a fresh ``model.json``.

    Idempotent per partition label (default: the input path): re-running
    with an already-folded label skips the scan and just re-solves, so a
    killed or duplicated scheduler run can't double-count a partition —
    the per-partition checkpoint semantics of the north rule, with the
    lineage trail stored inside the artifact itself. ``--group-col``
    switches to the per-source loop (one model per group, still one scan
    per new partition for ALL groups)."""
    from .operators.binning import (
        BinStats,
        collect_group_stats,
        fit_groups_from_stats,
    )

    spark = _spark("mob-fit-incremental")
    pin_utc(spark)
    os.makedirs(args.workdir, exist_ok=True)
    stats_path = os.path.join(args.workdir, "binstats.json")
    model_path = os.path.join(args.workdir, "model.json")
    label = args.label or args.input

    constraints = BinningConstraints(
        max_bins=args.max_bins, min_bins=args.min_bins,
        min_samples=args.min_samples,
    )

    prior = (
        BinStats.load_json(stats_path)
        if os.path.exists(stats_path)
        else None
    )
    if prior is not None and (prior.group_col or None) != (
        args.group_col or None
    ):
        raise ValueError(
            f"workdir artifact is grouped by {prior.group_col!r} but "
            f"--group-col is {args.group_col!r}"
        )
    already = prior is not None and any(
        e.get("label") == label for e in prior.lineage
    )

    weight_col = getattr(args, "weight_col", None)
    if prior is not None and prior.weight_col != weight_col:
        raise SystemExit(
            f"fit-incremental: workdir artifact was weighted by "
            f"{prior.weight_col!r} but --weight-col is {weight_col!r}"
        )
    if args.group_col:
        if already:
            stats = prior
        else:
            df = _read_input(spark, args.input, getattr(args, "input_format", None), getattr(args, "input_options", None))
            stats = collect_group_stats(
                df, args.group_col, args.x, args.y,
                prior=prior, label=label, prebins=args.prebins,
                constraints=constraints,
                exclude_values=args.exclude_values,
                weight_col=weight_col,
            )
            stats.save_json(stats_path)
        grouped = fit_groups_from_stats(
            stats, prebins=args.prebins, constraints=constraints,
            exclude_values=args.exclude_values,
            weight_col=weight_col,
        )
        shift = None
        if os.path.exists(model_path):
            from .operators.binning import GroupedBins

            prev = GroupedBins.load_json(model_path)
            shift = {
                str(g): _woe_shift_vs(prev.models[g], m)
                for g, m in grouped.items()
                if g in prev.models
            }
        grouped.save_json(model_path)
        per_group = {
            str(g): {
                "n_bins": len(m.labels),
                "merge_iterations": (
                    m.diagnostics["merge_phase1_iterations"]
                    + m.diagnostics["merge_phase2_iterations"]
                ),
            }
            for g, m in grouped.items()
        }
        report = {"groups": per_group, "max_abs_woe_shift": shift}
    else:
        binner = SparkMonotonicBinner(
            args.x, args.y, prebins=args.prebins,
            constraints=constraints,
            exclude_values=args.exclude_values,
            weight_col=weight_col,
        )
        if already:
            stats = prior
        else:
            df = _read_input(spark, args.input, getattr(args, "input_format", None), getattr(args, "input_options", None))
            stats = binner.collect_stats(df, prior=prior, label=label)
            stats.save_json(stats_path)
        binner.fit_from_stats(stats)
        shift = None
        if os.path.exists(model_path):
            from .operators.binning import FittedBins

            shift = _woe_shift_vs(
                FittedBins.load_json(model_path), binner.model_
            )
        binner.model_.save_json(model_path)
        m = binner.model_
        report = {
            "n_bins": len(m.labels),
            "merge_iterations": (
                m.diagnostics["merge_phase1_iterations"]
                + m.diagnostics["merge_phase2_iterations"]
            ),
            # vs the model.json this fold replaced (None on first fold or
            # when WoE is undefined): the refit-promotion gate metric
            "max_abs_woe_shift": shift,
        }

    print(json.dumps({
        "job": "fit-incremental",
        "status": "already_folded" if already else "folded",
        "label": label,
        "n_partitions": len(stats.lineage),
        "totals": stats.totals(),
        **report,
        "stats": stats_path,
        "model": model_path,
    }))


def dedup_job(args) -> None:
    """Corpus dedup pipeline: exact pass (byte-identical content) then
    optional MinHash-LSH near-dup pass, each an idempotent checkpoint
    stage with row-count lineage. The exact pass runs FIRST — it removes
    precisely the degenerate duplicate clusters that would otherwise blow
    up LSH buckets (operators/dedup.py bucket cap notes)."""
    if getattr(args, "keep_best_col", None) and not args.transitive:
        # two-flag constraint: fail before any stage burns cluster time
        raise SystemExit(
            "--keep-best-col requires --transitive (only connected "
            "components define the cluster each best row is chosen from)"
        )
    spark = _spark("mob-dedup")
    run = PipelineRun(root=args.workdir)
    df = _read_input(spark, args.input, getattr(args, "input_format", None), getattr(args, "input_options", None))

    from .operators.dedup import exact_dedup, minhash_dedup, paragraph_dedup

    if args.paragraph_dedup:
        from pyspark.sql import functions as F

        para_dir = os.path.join(args.workdir, "stage_paragraph")
        df = run_stage(
            spark, para_dir, "paragraph_dedup",
            # boilerplate removal FIRST: repeated paragraphs are exactly
            # what inflates doc-level near-dup similarity downstream;
            # fully-duplicated docs (0 surviving paragraphs) are dropped
            lambda: paragraph_dedup(
                df, args.text_col, args.id_col
            ).filter(F.col("n_paras_kept") > 0).drop("n_paras_kept"),
            inputs=[args.input],
            params={"stage": "paragraph"},
        )
        run.record(para_dir)

    exact_dir = os.path.join(args.workdir, "stage_exact")
    deduped = run_stage(
        spark, exact_dir, "exact_dedup",
        lambda: exact_dedup(
            df, [args.text_col], args.id_col, strategy=args.exact_strategy
        ),
        inputs=[args.input],
        params={"strategy": args.exact_strategy},
    )
    run.record(exact_dir)

    if args.near_threshold is not None:
        from .plans.checkpoint import load_manifest

        near_dir = os.path.join(args.workdir, "stage_neardup")
        extra = {}
        # gate the audit on the stage manifest being ABSENT: on a resumed
        # run the stage is skipped, and re-running the full signature scan
        # just to discard its result would defeat the checkpoint contract
        if args.audit_buckets and load_manifest(near_dir) is None:
            # opt-in observability for the (silent, by design) bucket cap:
            # one aggregate over the banded index, recorded in the stage
            # manifest so a recall-losing cap is visible in lineage
            from pyspark.sql import functions as F

            from .operators.dedup import lsh_bucket_sizes

            hist = lsh_bucket_sizes(
                deduped, args.text_col, args.id_col,
                num_hashes=args.num_hashes, n_bands=args.n_bands,
            )
            row = hist.agg(
                F.count(F.lit(1)).alias("n_buckets"),
                F.max("n_ids").alias("max_bucket"),
                F.sum(
                    (F.col("n_ids") > args.max_bucket_size).cast("long")
                ).alias("n_over_cap"),
            ).first()
            extra = {
                "lsh_n_buckets": row["n_buckets"],
                "lsh_max_bucket": row["max_bucket"],
                "lsh_buckets_over_cap": row["n_over_cap"],
                "lsh_cap": args.max_bucket_size,
            }
            if row["n_over_cap"]:
                print(
                    f"WARNING: {row['n_over_cap']} LSH buckets exceed "
                    f"max_bucket_size={args.max_bucket_size} and will be "
                    f"dropped (near-dups only reachable through them are "
                    f"missed); largest bucket holds {row['max_bucket']} ids"
                )
        run_stage(
            spark, near_dir, "minhash_dedup",
            lambda: minhash_dedup(
                deduped, args.text_col, args.id_col,
                threshold=args.near_threshold,
                num_hashes=args.num_hashes, n_bands=args.n_bands,
                transitive=args.transitive,
                max_bucket_size=args.max_bucket_size,
                checkpoint_dir=args.checkpoint_dir,
                keep_best_col=args.keep_best_col,
            ),
            inputs=[exact_dir],
            params={"threshold": args.near_threshold,
                    "num_hashes": args.num_hashes, "n_bands": args.n_bands,
                    "transitive": args.transitive,
                    "keep_best_col": args.keep_best_col,
                    "max_bucket_size": args.max_bucket_size},
            extra_metrics=extra,
        )
        run.record(near_dir)
    print(run.save())


def quality_filter_job(args) -> None:
    """Corpus cleaning stage (the step between dedup and packing): keep
    documents passing the quality-score floor, token-count band, and the
    Gopher repetition caps — ONE scan computing every signal in a single
    codegen pass, written as an idempotent checkpoint stage.

    ``--audit`` adds a rejection-reason breakdown to the manifest (one
    extra aggregate scan; flags are non-exclusive, so reasons can sum to
    more than the total dropped)."""
    from pyspark.sql import functions as F

    from .operators.textstats import quality_features, repetition_features

    spark = _spark("mob-quality-filter")
    run = PipelineRun(root=args.workdir)
    df = _read_input(spark, args.input, getattr(args, "input_format", None), getattr(args, "input_options", None))

    def featured():
        feats = repetition_features(
            quality_features(df, args.text_col), args.text_col
        )
        fails = {
            "low_quality": F.col("quality_score") < args.min_quality,
            "too_few_tokens": F.col("n_tokens") < args.min_tokens,
            "too_many_tokens": (
                F.col("n_tokens") > args.max_tokens
                if args.max_tokens is not None
                else F.lit(False)
            ),
            "dup_lines": F.col("dup_line_frac") > args.max_dup_line_frac,
            "top_token": F.col("top_token_frac") > args.max_top_token_frac,
        }
        keep = F.lit(True)
        for cond in fails.values():
            keep = keep & ~cond
        return feats, fails, keep

    out_dir = os.path.join(args.workdir, "stage_quality_filter")

    extra = {}
    # gate the audit on the stage manifest being ABSENT (dedup_job pattern):
    # on a resumed run run_stage skips the write, and spending a full input
    # scan on metrics that can't reach the existing manifest is pure waste
    from .plans.checkpoint import load_manifest

    if args.audit and load_manifest(out_dir) is None:
        feats, fails, keep = featured()
        row = feats.agg(
            F.count(F.lit(1)).alias("total"),
            F.sum(keep.cast("long")).alias("kept"),
            *[
                F.sum(c.cast("long")).alias(name)
                for name, c in fails.items()
            ],
        ).first()
        extra = {"audit_" + k: int(row[k] or 0) for k in row.asDict()}

    def build():
        feats, _, keep = featured()
        return feats.filter(keep).select(*df.columns)

    run_stage(
        spark, out_dir, "quality_filter", build,
        inputs=[args.input],
        params={
            "min_quality": args.min_quality,
            "min_tokens": args.min_tokens,
            "max_tokens": args.max_tokens,
            "max_dup_line_frac": args.max_dup_line_frac,
            "max_top_token_frac": args.max_top_token_frac,
        },
        extra_metrics=extra,
    )
    run.record(out_dir)
    print(run.save())


def _bins_artifact_kind(payload: dict, path: str) -> str:
    """'single' (FittedBins) or 'grouped' (GroupedBins). A Scorecard
    payload also carries a 'models' key — catch it here with a pointer
    to the right job instead of failing deep inside GroupedBins
    parsing."""
    if "pdo" in payload and "models" in payload:
        raise SystemExit(
            f"{path} is a Scorecard artifact (scorecard.json) — "
            "use the 'score' job to serve it"
        )
    return "grouped" if "models" in payload else "single"


def drift_job(args) -> None:
    """Production drift monitoring: score a NEW parquet slice against a
    SAVED binning artifact (``FittedBins``/``GroupedBins`` JSON from
    ``fit-woe`` / ``save_json``) — per-bucket PSI terms written as an
    idempotent checkpoint stage, with the total index and the
    conventional stable/shifting/shifted reading in the stage manifest.
    No refit, no training-data rescan: the artifact carries the training
    bin counts."""
    import json as _json

    from pyspark.sql import functions as F

    from .operators.binning import FittedBins, GroupedBins
    from .operators.drift import grouped_model_psi, model_psi

    spark = _spark("mob-drift")
    run = PipelineRun(root=args.workdir)
    df = _read_input(spark, args.input, getattr(args, "input_format", None), getattr(args, "input_options", None))
    with open(args.model) as f:
        payload = _json.load(f)
    grouped = _bins_artifact_kind(payload, args.model) == "grouped"
    if grouped:
        artifact = GroupedBins.load_json(args.model)
        # the override renames grouped_model_psi's OUTPUT group column too —
        # resolve once and use the same name for the manifest totals below
        gcol = args.group_col or artifact.group_col
        build = lambda: grouped_model_psi(  # noqa: E731
            artifact, df,
            input_col=args.input_col, group_col=gcol,
            smoothing=args.smoothing,
            weight_col=getattr(args, "weight_col", None),
        )
    else:
        artifact = FittedBins.from_dict(payload)
        build = lambda: model_psi(  # noqa: E731
            artifact, df,
            input_col=args.input_col, smoothing=args.smoothing,
            weight_col=getattr(args, "weight_col", None),
        )

    # the PSI frame is k·bins rows — computing the headline index up front
    # (for the manifest) costs one tiny duplicate aggregate, not a rescan
    # of the input worth checkpoint plumbing
    if grouped:
        totals = {
            r[gcol]: float(r["psi"])
            for r in build()
            .groupBy(gcol)
            .agg(F.sum("psi_term").alias("psi"))
            .collect()
        }
        worst = max(totals.values()) if totals else 0.0
    else:
        row = build().agg(F.sum("psi_term").alias("psi")).first()
        totals = {"_all": float(row["psi"] or 0.0)}
        worst = totals["_all"]
    status = (
        "stable" if worst < 0.1 else
        "shifting" if worst <= 0.25 else "shifted"
    )

    out_dir = os.path.join(args.workdir, "stage_drift")
    run_stage(
        spark, out_dir, "psi_drift", build,
        inputs=[args.input, args.model],
        params={"model": args.model, "smoothing": args.smoothing,
                "input_col": args.input_col},
        extra_metrics={
            "psi": {k: round(v, 6) for k, v in totals.items()},
            "psi_worst": round(worst, 6),
            "status": status,
        },
    )
    run.record(out_dir)
    print(f"PSI {round(worst, 6)} ({status})")
    print(run.save())


def drift_stream_job(args) -> None:
    """Incremental streaming drift monitor: every invocation processes
    only the files ADDED to --input since the last run (the Structured
    Streaming checkpoint is the cursor), appends closed event-time
    windows' bin counts to the parquet sink exactly-once, then refreshes
    the per-window PSI table and prints the alert summary.

    Run it from cron/Airflow as often as you like — no refit, no
    training-data rescan, no reprocessing of old traffic. Windows only
    emit once the watermark passes their end, so late data inside the
    allowance is counted, and a window's counts never change after they
    land (append semantics end-to-end)."""
    from pyspark.errors import AnalysisException

    from .operators.binning import FittedBins
    from .streaming.drift import psi_over_windows, streaming_bucket_counts

    spark = _spark("mob-drift-stream")
    pin_utc(spark)
    with open(args.model) as f:
        payload = json.load(f)
    if _bins_artifact_kind(payload, args.model) == "grouped":
        raise ValueError(
            "drift-stream monitors a single FittedBins artifact; "
            "per-group streaming monitoring: run one job per group's "
            "model (GroupedBins[g].save_json)"
        )
    model = FittedBins.from_dict(payload)

    os.makedirs(args.workdir, exist_ok=True)
    sink = os.path.join(args.workdir, "counts")
    ckpt = os.path.join(args.workdir, "checkpoint")

    schema = spark.read.parquet(args.input).schema
    stream = spark.readStream.schema(schema).parquet(args.input)
    counts = streaming_bucket_counts(
        model, stream, args.ts_col,
        input_col=args.input_col, window=args.window,
        watermark=args.watermark,
    )
    q = (
        counts.writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    try:
        all_counts = spark.read.parquet(sink)
        have_rows = all_counts.limit(1).count() > 0
    except AnalysisException:
        have_rows = False
    if not have_rows:
        print(json.dumps({
            "job": "drift-stream", "windows": 0,
            "note": "no closed windows yet (watermark has not passed "
                    "any window end)",
        }))
        return

    psi = psi_over_windows(all_counts, model, smoothing=args.smoothing)
    psi_dir = os.path.join(args.workdir, "psi")
    psi.write.mode("overwrite").parquet(psi_dir)

    heads = (
        spark.read.parquet(psi_dir)
        .select("window_start", "psi")
        .distinct()
        .orderBy("window_start")
        .collect()
    )
    windows = {
        str(r["window_start"]): {
            "psi": round(float(r["psi"]), 6),
            "status": (
                "stable" if r["psi"] < 0.1 else
                "shifting" if r["psi"] <= 0.25 else "shifted"
            ),
        }
        for r in heads
    }
    print(json.dumps({
        "job": "drift-stream",
        "windows": len(windows),
        "worst_psi": round(max(w["psi"] for w in windows.values()), 6),
        "per_window": windows,
        "counts": sink,
        "psi": psi_dir,
    }))


def transform_job(args) -> None:
    """Serving-side scoring: assign bins/WoE to a FRESH slice from a saved
    ``model.json`` artifact (``fit-woe`` output) — no refit, no training
    rescan, just the compiled bin lookup over one scan of the
    input, written as an idempotent checkpoint stage. Detects single
    (``FittedBins``) vs per-group (``GroupedBins``) artifacts from the
    payload, mirroring ``drift``."""
    import json as _json

    from .operators.binning import FittedBins, GroupedBins

    spark = _spark("mob-transform")
    run = PipelineRun(root=args.workdir)
    df = _read_input(spark, args.input, getattr(args, "input_format", None), getattr(args, "input_options", None))
    with open(args.model) as f:
        payload = _json.load(f)
    if _bins_artifact_kind(payload, args.model) == "grouped":
        artifact = GroupedBins.load_json(args.model)
        gcol = args.group_col or artifact.group_col
        build = lambda: artifact.transform(  # noqa: E731
            df, assign=args.assign, input_col=args.input_col,
            group_col=gcol, output_col=args.output_col,
        )
        model_kind = "grouped"
    else:
        artifact = FittedBins.from_dict(payload)
        build = lambda: artifact.transform(  # noqa: E731
            df, assign=args.assign, input_col=args.input_col,
            output_col=args.output_col,
        )
        model_kind = "single"

    out_dir = os.path.join(args.workdir, "stage_transform")
    run_stage(
        spark, out_dir, "transform", build,
        inputs=[args.input, args.model],
        params={"model": args.model, "assign": args.assign,
                "input_col": args.input_col, "output_col": args.output_col,
                "kind": model_kind},
        partition_by=[args.partition_by] if args.partition_by else None,
    )
    run.record(out_dir)
    print(run.save())


def score_job(args) -> None:
    """Serve a saved ``scorecard.json`` at scale: total integer score per
    row, optionally per-feature points and top-k adverse-action reason
    codes, written as an idempotent checkpoint stage. No refit and no
    shuffle — the card is kilobytes, compiled into the scoring
    expression (:meth:`scorecard.Scorecard.transform`)."""
    from .scorecard import Scorecard

    spark = _spark("mob-score")
    run = PipelineRun(root=args.workdir)
    df = _read_input(spark, args.input, getattr(args, "input_format", None), getattr(args, "input_options", None))
    card = Scorecard.load_json(args.scorecard)
    if args.reasons:
        build = lambda: card.reason_codes(  # noqa: E731
            df, top_k=args.top_k, keep_feature_points=args.keep_points
        )
    else:
        build = lambda: card.transform(  # noqa: E731
            df, keep_feature_points=args.keep_points
        )

    out_dir = os.path.join(args.workdir, "stage_score")
    run_stage(
        spark, out_dir, "score", build,
        inputs=[args.input, args.scorecard],
        params={
            "scorecard": args.scorecard,
            "reasons": bool(args.reasons),
            "top_k": args.top_k if args.reasons else None,
            "features": sorted(card.models),
            "pdo": card.pdo,
            "base_points": card.base_points,
            "base_odds": card.base_odds,
        },
    )
    run.record(out_dir)
    print(run.save())


def screen_job(args) -> None:
    """Feature-selection stage that runs BEFORE fit-woe: rank all candidate
    features by IV in one data scan (:func:`operators.screening.iv_screen`)
    and write the ranked table as an idempotent checkpoint stage. The
    manifest is amended once with the top-k ``(feature, iv)`` ranking, so
    the lineage shows which features the downstream fit should take
    without re-reading the stage output."""
    from .operators.screening import iv_screen
    from .plans.checkpoint import load_manifest, write_manifest

    spark = _spark("mob-screen")
    run = PipelineRun(root=args.workdir)
    df = _read_input(spark, args.input, getattr(args, "input_format", None), getattr(args, "input_options", None))

    weight_col = getattr(args, "weight_col", None)
    if args.features.strip().lower() == "auto":
        from pyspark.sql.types import NumericType

        features = [
            f.name
            for f in df.schema.fields
            if f.name != args.y and f.name != args.group_col
            and f.name != weight_col
            and isinstance(f.dataType, NumericType)
        ]
    elif args.features.strip().lower() == "none":
        features = []
    else:
        features = [c.strip() for c in args.features.split(",") if c.strip()]
    cat_arg = (args.categorical or "").strip()
    if cat_arg.lower() == "auto":
        from pyspark.sql.types import StringType

        categorical = [
            f.name
            for f in df.schema.fields
            if f.name != args.y and f.name != args.group_col
            and isinstance(f.dataType, StringType)
        ]
    else:
        categorical = [c.strip() for c in cat_arg.split(",") if c.strip()]
    if not features and not categorical:
        raise SystemExit("screen: no candidate feature columns")

    out_dir = os.path.join(args.workdir, "stage_screen")
    ranked = run_stage(
        spark, out_dir, "iv_screen",
        lambda: iv_screen(
            df, features, args.y, categorical=categorical,
            n_buckets=args.n_buckets, group_col=args.group_col,
            weight_col=weight_col,
        ),
        inputs=[args.input],
        params={"features": features, "categorical": categorical,
                "y": args.y,
                "n_buckets": args.n_buckets, "top_k": args.top_k,
                "group_col": args.group_col, "weight_col": weight_col},
    )
    m = load_manifest(out_dir)
    if m is not None and "top_features" not in m.extra_metrics:
        # re-sort on the REREAD stage output (a parquet round-trip does not
        # preserve the write-side ordering); with a group col the top-k is
        # per group, not a global head that would starve every group after
        # the first
        from pyspark.sql import Window, functions as F

        k_top = args.top_k or len(features)
        if args.group_col:
            wr = Window.partitionBy(args.group_col).orderBy(
                F.col("iv").desc(), "feature"
            )
            top = (
                ranked.withColumn("__rk", F.row_number().over(wr))
                .filter(F.col("__rk") <= k_top)
                .drop("__rk")
                .orderBy(args.group_col, F.col("iv").desc(), "feature")
                .collect()
            )
        else:
            top = (
                ranked.orderBy(F.col("iv").desc(), "feature")
                .limit(k_top)
                .collect()
            )
        m.extra_metrics["top_features"] = [
            {
                **({args.group_col: r[args.group_col]}
                   if args.group_col else {}),
                "feature": r["feature"],
                "iv": r["iv"],
                # NULL for categorical features (no order to be monotone on)
                "bad_rate_monotone": (
                    None if r["bad_rate_monotone"] is None
                    else bool(r["bad_rate_monotone"])
                ),
            }
            for r in top
        ]
        write_manifest(out_dir, m)
    if args.corr_threshold is not None and m is not None:
        # redundancy prune over the top-ranked NUMERIC features (Pearson is
        # undefined for categoricals — they pass through untouched): one
        # extra scan for the k×k correlation matrix, then the driver-side
        # greedy keeps the higher-IV feature of each |corr|>threshold pair.
        if args.group_col:
            raise SystemExit(
                "screen: --corr-threshold does not compose with --group-col "
                "(one correlation matrix per group is a per-group rerun; "
                "screen each group slice separately instead)"
            )
        if "corr_prune" not in m.extra_metrics:
            from .operators.correlation import corr_prune, correlation_matrix

            numeric = set(features)
            ranked_pairs = [
                (e["feature"], e["iv"])
                for e in m.extra_metrics["top_features"]
                if e["feature"] in numeric
            ]
            if len(ranked_pairs) >= 2:
                cm = correlation_matrix(df, [f for f, _ in ranked_pairs])
                pruned = corr_prune(
                    ranked_pairs, cm, threshold=args.corr_threshold
                )
            else:
                pruned = {"kept": [f for f, _ in ranked_pairs], "dropped": []}
            m.extra_metrics["corr_prune"] = {
                "threshold": args.corr_threshold,
                "kept": pruned["kept"],
                "dropped": pruned["dropped"],
            }
            write_manifest(out_dir, m)
    run.record(out_dir)
    print(run.save())


def profile_job(args) -> None:
    """First-contact data audit: one-scan per-column profile
    (:func:`operators.profile.profile`) written as an idempotent
    checkpoint stage, with headline per-column facts (nulls, distincts,
    top value) surfaced in the stage manifest so the lineage answers
    "what does this table look like" without re-reading the stage
    output. ``--approx`` swaps exact distincts for HyperLogLog — the
    shuffle-free mode for a first pass over a 100 TB table."""
    from .operators.profile import profile
    from .plans.checkpoint import load_manifest, write_manifest

    spark = _spark("mob-profile")
    run = PipelineRun(root=args.workdir)
    df = _read_input(spark, args.input, getattr(args, "input_format", None), getattr(args, "input_options", None))

    cols = (
        [c.strip() for c in args.columns.split(",") if c.strip()]
        if args.columns else None
    )
    out_dir = os.path.join(args.workdir, "stage_profile")
    prof = run_stage(
        spark, out_dir, "profile",
        lambda: profile(df, cols, exact=not args.approx, rsd=args.rsd),
        inputs=[args.input],
        params={"columns": cols or list(df.columns),
                "exact": not args.approx, "rsd": args.rsd},
    )
    m = load_manifest(out_dir)
    if m is not None and "columns" not in m.extra_metrics:
        # k-row collect of the REREAD stage output, amended once
        m.extra_metrics["columns"] = [
            {
                "column": r["column"],
                "dtype": r["dtype"],
                "n": r["n"],
                "null_pct": round(100.0 * r["nulls"] / r["n"], 4)
                if r["n"] else 0.0,
                "n_distinct": r["n_distinct"],
                "top_value": r["top_value"],
                "top_freq": r["top_freq"],
            }
            for r in prof.orderBy("column").collect()
        ]
        write_manifest(out_dir, m)
    run.record(out_dir)
    print(run.save())


def expect_job(args) -> None:
    """Data-contract gate: evaluate a persisted expectation suite
    (:mod:`operators.expectations` JSON artifact) against the input in
    ONE aggregate scan, write the per-expectation verdict table as an
    idempotent checkpoint stage, and — with ``--strict`` — fail the
    pipeline (exit 2) on any violation so downstream stages never run
    over a broken table. The failing expectation names land in the
    stage manifest for lineage."""
    from pyspark.sql import functions as F

    from .operators.expectations import load_suite, run_checks
    from .plans.checkpoint import load_manifest, write_manifest

    spark = _spark("mob-expect")
    run = PipelineRun(root=args.workdir)
    df = _read_input(spark, args.input, getattr(args, "input_format", None), getattr(args, "input_options", None))

    exps = load_suite(args.suite)
    # a contract GATE must never reuse another ingest's verdict: stage
    # reuse is manifest-existence-based, so the stage dir is keyed by
    # (ingest signature, suite content) — same ingest resumes
    # idempotently, a new input, an IN-PLACE REWRITE of the same path
    # (path identity is not ingest identity), or an edited suite always
    # re-evaluates. For path inputs the signature is the sorted file
    # listing with sizes+mtimes; catalog tables (no local listing) fall
    # back to the identifier plus --run-id, which callers should pass
    # when re-gating a rewritten table.
    import hashlib

    with open(args.suite, "rb") as f:
        suite_bytes = f.read()
    gate_key = hashlib.md5(
        _ingest_signature(args.input).encode()
        + b"\x00" + (args.run_id or "").encode()
        + b"\x00" + suite_bytes
    ).hexdigest()[:12]
    out_dir = os.path.join(args.workdir, f"stage_expect_{gate_key}")
    res = run_stage(
        spark, out_dir, "expect",
        lambda: run_checks(df, exps, rsd=args.rsd),
        inputs=[args.input, args.suite],
        params={"n_expectations": len(exps), "strict": bool(args.strict),
                "rsd": args.rsd},
    )
    failed = [
        r["name"] for r in res.filter(~F.col("passed")).collect()
    ]
    m = load_manifest(out_dir)
    if m is not None and "failed_expectations" not in m.extra_metrics:
        m.extra_metrics["failed_expectations"] = failed
        write_manifest(out_dir, m)
    run.record(out_dir)
    print(run.save())
    if failed and args.strict:
        raise SystemExit(2)


def pack_job(args) -> None:
    """Sequence-packing pipeline stage: token counts -> distributed global
    prefix sum -> concat-then-chunk slices, written as an idempotent
    checkpoint stage (resume skips completed stages)."""
    spark = _spark("mob-pack")
    run = PipelineRun(root=args.workdir)
    df = _read_input(spark, args.input, getattr(args, "input_format", None), getattr(args, "input_options", None))

    from .operators.packing import pack_sequences

    out_dir = os.path.join(args.workdir, "stage_pack")
    run_stage(
        spark, out_dir, "pack_sequences",
        lambda: pack_sequences(
            df, args.n_tok_col, args.id_col, args.budget,
            order_col=args.order_col,
            tokens_col=args.tokens_col,
        ),
        inputs=[args.input],
        params={"budget": args.budget, "order_col": args.order_col},
    )
    run.record(out_dir)
    print(run.save())


def mix_job(args) -> None:
    """The production training-mix loop the samplers exist for:
    per-source available tokens (one algebraic aggregate) -> temperature
    mixture budgets (driver water-fill arithmetic) -> deterministic
    token-budget sampling (grouped prefix sum) -> optional concat-then-
    chunk packing — chained as idempotent checkpoint stages. The sampling
    stage manifest carries available/budgeted/realized tokens per source,
    so the lineage shows exactly what mix was asked for and what was
    actually drawn; resume replays only missing stages (the availability
    scan is skipped entirely when the sample stage already exists)."""
    from .operators.sampling import (
        sample_to_token_budget,
        source_token_counts,
        temperature_mixture_budgets,
    )
    from .plans.checkpoint import load_manifest, write_manifest

    spark = _spark("mob-mix")
    run = PipelineRun(root=args.workdir)
    df = _read_input(spark, args.input, getattr(args, "input_format", None), getattr(args, "input_options", None))

    sample_dir = os.path.join(args.workdir, "stage_mix_sample")
    budgets = {}
    extra = {}
    # availability scan + budget arithmetic only when the stage will
    # actually (re)build — a resumed run reads budgets from the existing
    # manifest instead of re-scanning the input (quality_filter_job
    # audit-gating pattern)
    if load_manifest(sample_dir) is None:
        available = source_token_counts(df, args.group_col, args.n_tok_col)
        budgets = temperature_mixture_budgets(
            available, args.total_budget, alpha=args.alpha
        )
        extra = {
            "available_tokens": available,
            "budgets": budgets,
            "budget_total": sum(budgets.values()),
        }
    sampled = run_stage(
        spark, sample_dir, "token_budget_sample",
        lambda: sample_to_token_budget(
            df, args.group_col, args.id_col, args.n_tok_col, budgets,
            salt=args.salt,
        ),
        inputs=[args.input],
        params={
            "group_col": args.group_col,
            "n_tok_col": args.n_tok_col,
            "total_budget": args.total_budget,
            "alpha": args.alpha,
            "salt": args.salt,
        },
        extra_metrics=extra,
    )
    # realized tokens are only known after the write: amend the manifest
    # once (idempotent — a resumed run sees the key and skips the scan of
    # the sampled output)
    m = load_manifest(sample_dir)
    if m is not None and "realized_tokens" not in m.extra_metrics:
        m.extra_metrics["realized_tokens"] = source_token_counts(
            sampled, args.group_col, args.n_tok_col
        )
        write_manifest(sample_dir, m)
    run.record(sample_dir)

    if args.pack_budget is not None:
        from .operators.packing import pack_sequences

        pack_dir = os.path.join(args.workdir, "stage_pack")
        run_stage(
            spark, pack_dir, "pack_sequences",
            lambda: pack_sequences(
                sampled, args.n_tok_col, args.id_col, args.pack_budget,
                order_col=args.order_col,
                tokens_col=args.tokens_col,
            ),
            inputs=[sample_dir],
            params={"budget": args.pack_budget, "order_col": args.order_col},
        )
        run.record(pack_dir)
    print(run.save())


def scale_job(args) -> None:
    """Preprocessing fit/serve stage: fit a :class:`FeatureStats` artifact
    on the input (ONE aggregation scan) — or load one with ``--stats`` —
    and apply impute / clip / standardize / robust-scale as a single
    codegen pass written as an idempotent checkpoint stage.

    Train/serve-skew safety is the point of the artifact split: the
    training job runs ``scale`` once (fit + transform + save
    ``feature_stats.json``); every scoring job runs ``scale --stats
    <train_artifact>`` so the scoring slice never contributes statistics.
    A resumed run replays the stage without re-fitting (the fit is gated
    on the stage manifest, mix_job's availability-scan pattern)."""
    from .operators.scaling import (
        FeatureStats,
        clip,
        fit_feature_stats,
        impute,
        robust_scale,
        standardize,
    )
    from .plans.checkpoint import load_manifest

    spark = _spark("mob-scale")
    run = PipelineRun(root=args.workdir)
    df = _read_input(spark, args.input, getattr(args, "input_format", None), getattr(args, "input_options", None))

    if args.cols.strip().lower() == "auto":
        from pyspark.sql.types import NumericType

        cols = [
            f.name for f in df.schema.fields
            if isinstance(f.dataType, NumericType)
        ]
    else:
        cols = [c.strip() for c in args.cols.split(",") if c.strip()]
    if not cols:
        raise SystemExit("scale: no feature columns")

    os.makedirs(args.workdir, exist_ok=True)
    stats_path = os.path.join(args.workdir, "feature_stats.json")
    out_dir = os.path.join(args.workdir, "stage_scale")
    manifest_exists = load_manifest(out_dir) is not None

    if args.stats:
        if getattr(args, "weight_col", None):
            raise SystemExit(
                "scale: --weight-col only applies when FITTING statistics; "
                "--stats serves a saved artifact, whose weighting was "
                "fixed at fit time"
            )
        st = FeatureStats.load_json(args.stats)
        missing = [c for c in cols if c not in st.stats]
        if missing:
            raise SystemExit(
                f"scale: --stats artifact has no statistics for {missing}"
            )
    elif not manifest_exists:
        st = fit_feature_stats(
            df, cols, exact=args.exact,
            weight_col=getattr(args, "weight_col", None),
        )
        st.save_json(stats_path)
    else:
        # resume: the stage replays from its checkpoint and never calls
        # the transform closures, so the artifact is not re-read
        st = None

    transforms = []
    if args.impute is not None:
        try:
            strategy = float(args.impute)
        except ValueError:
            strategy = args.impute
        transforms.append(("impute", lambda d: impute(d, st, cols,
                                                      strategy=strategy)))
    if args.clip_k_iqr is not None:
        transforms.append(
            ("clip", lambda d: clip(d, st, cols, k_iqr=args.clip_k_iqr))
        )
    if args.standardize:
        transforms.append(("standardize", lambda d: standardize(d, st, cols)))
    if args.robust:
        transforms.append(("robust", lambda d: robust_scale(d, st, cols)))
    if not transforms:
        raise SystemExit(
            "scale: nothing to do — pass --impute/--clip-k-iqr/"
            "--standardize/--robust (the fitted artifact was still "
            "written to feature_stats.json)"
        )

    def build():
        out = df
        for _, fn in transforms:
            out = fn(out)
        return out

    run_stage(
        spark, out_dir, "feature_scale", build,
        inputs=[args.input],
        params={
            "cols": cols,
            "impute": args.impute,
            "clip_k_iqr": args.clip_k_iqr,
            "standardize": args.standardize,
            "robust": args.robust,
            "stats_source": args.stats or "fit",
            "exact": args.exact,
            "weight_col": getattr(args, "weight_col", None),
        },
        # imputation audit for free: the artifact already counted nulls
        # (st is None only on resume, where the manifest is kept as-is)
        extra_metrics=(
            {
                "n_null": {c: st.stats[c]["n_null"] for c in cols},
                "applied": [name for name, _ in transforms],
            }
            if st is not None
            else {}
        ),
    )
    run.record(out_dir)
    print(run.save())


def ann_job(args) -> None:
    """IVF ANN serving pipeline (the fit-once codebook contract made
    operational): the coarse-quantizer codebook is fitted ONCE and saved
    as ``workdir/ivf_codebook.json`` — re-runs and later query batches
    load it instead of re-training (mirrors ``fit-woe``'s model.json) —
    then the top-k answers for a query batch are written as an idempotent
    checkpoint stage routed entirely from the loaded codebook."""
    from .operators.similarity import IVFCodebook, fit_ivf_codebook, ivf_topk

    spark = _spark("mob-ann")
    run = PipelineRun(root=args.workdir)

    corpus = _read_input(spark, args.input, getattr(args, "input_format", None), getattr(args, "input_options", None))
    # --queries-format/--queries-options override per ref; otherwise the
    # --input-* values apply to BOTH table refs of this job (a uniform
    # pipeline's corpus and queries usually share storage)
    queries = _read_input(
        spark, args.queries,
        getattr(args, "queries_format", None)
        or getattr(args, "input_format", None),
        getattr(args, "queries_options", None)
        or getattr(args, "input_options", None),
    )

    os.makedirs(args.workdir, exist_ok=True)
    cb_path = os.path.join(args.workdir, "ivf_codebook.json")
    if not os.path.exists(cb_path):
        cb = fit_ivf_codebook(
            corpus, corpus_vec=args.vec_col, n_cells=args.n_cells,
            seed=args.seed, train_fraction=args.train_fraction,
        )
        # save_json publishes atomically: a killed job never leaves a
        # half-written codebook to poison the resume path
        cb.save_json(cb_path)
    codebook = IVFCodebook.load_json(cb_path)

    out_dir = os.path.join(args.workdir, "stage_topk")
    run_stage(
        spark, out_dir, "ivf_topk",
        lambda: ivf_topk(
            corpus, queries, args.k,
            corpus_id=args.id_col, corpus_vec=args.vec_col,
            query_id=args.query_id_col, query_vec=args.query_vec_col,
            n_probe=args.n_probe, codebook=codebook,
        ),
        inputs=[args.input, args.queries, cb_path],
        params={"k": args.k, "n_probe": args.n_probe,
                "n_cells": codebook.n_cells},
        extra_metrics={"codebook": cb_path, "dim": codebook.dim},
    )
    run.record(out_dir)
    print(run.save())


def main(argv: Optional[list] = None) -> None:
    p = argparse.ArgumentParser(prog="mob-spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    fw = sub.add_parser("fit-woe", help="fit monotone WoE bins and transform")
    fw.add_argument("--input", required=True, help="parquet path or table id")
    fw.add_argument("--x", required=True)
    fw.add_argument("--y", required=True)
    fw.add_argument("--group-col", default=None)
    fw.add_argument("--workdir", required=True)
    fw.add_argument(
        "--prebins", type=_parse_prebins, default="auto",
        help="'auto' (scale-safe default), 'exact', or a bucket count",
    )
    fw.add_argument("--max-bins", type=int, default=6)
    fw.add_argument("--min-bins", type=int, default=4)
    fw.add_argument("--min-samples", type=float, default=None)
    fw.add_argument("--asof-right", default=None,
                    help="optional event table for as-of feature join")
    fw.add_argument(
        "--asof-right-format", default=None, dest="asof_right_format",
        help="force a DataSource for --asof-right (defaults to "
             "--input-format): mixed-storage pipelines (parquet main "
             "input + iceberg event table) need per-ref overrides",
    )
    fw.add_argument(
        "--asof-right-options", default=None, dest="asof_right_options",
        help="comma-separated reader options k=v for --asof-right "
             "(defaults to --input-options)",
    )
    fw.add_argument("--entity-col", default="doc_id")
    fw.add_argument("--ts-col", default="ts")
    fw.add_argument(
        "--horizons", default=None,
        help="comma-separated trailing horizons in seconds (e.g. "
             "3600,86400): adds point-in-time aggregation features of "
             "the --asof-right stream to the feature stage",
    )
    fw.add_argument(
        "--horizon-value", default="value",
        help="right-table column aggregated over --horizons/--half-lives",
    )
    fw.add_argument(
        "--weight-col", default=None, dest="weight_col",
        help="sample-weight column: counts/WoE/IV use frequency-weight "
             "sums (integer weight k == k-fold replication) — the "
             "downsample-reweighted fit path",
    )
    fw.add_argument(
        "--half-lives", default=None,
        help="comma-separated decay half-lives in seconds (e.g. "
             "3600,86400): adds recency-weighted (2^-(t-ti)/H) "
             "aggregation features of the --asof-right stream",
    )
    fw.set_defaults(func=fit_woe_job)

    fi = sub.add_parser(
        "fit-incremental",
        help="fold one new partition into binstats.json and re-solve "
             "model.json without rescanning history",
    )
    fi.add_argument("--input", required=True, help="the NEW partition only")
    fi.add_argument("--x", required=True)
    fi.add_argument("--y", required=True)
    fi.add_argument(
        "--group-col", default=None,
        help="per-source mode: one model per group, still one scan per "
             "new partition",
    )
    fi.add_argument("--workdir", required=True)
    fi.add_argument(
        "--label", default=None,
        help="partition identity for idempotency (default: input path); "
             "re-running a folded label skips the scan",
    )
    fi.add_argument(
        "--prebins", type=_parse_prebins, default="auto",
        help="first partition only — later runs reuse the artifact's "
             "frozen bucketing",
    )
    fi.add_argument("--max-bins", type=int, default=6)
    fi.add_argument("--min-bins", type=int, default=4)
    fi.add_argument("--min-samples", type=float, default=None)
    fi.add_argument(
        "--exclude-values", default=None,
        type=lambda s: [float(v) for v in s.split(",")] if s else None,
        help="comma-separated special codes reported as Excluded rows",
    )
    fi.add_argument(
        "--weight-col", default=None, dest="weight_col",
        help="sample-weight column (frequency-weight counts); recorded "
             "in the artifact — every folded partition must use the same",
    )
    fi.set_defaults(func=fit_incremental_job)

    dd = sub.add_parser("dedup", help="exact + optional near-dup corpus dedup")
    dd.add_argument("--input", required=True, help="parquet path or table id")
    dd.add_argument("--workdir", required=True)
    dd.add_argument("--text-col", default="text")
    dd.add_argument("--id-col", default="doc_id")
    dd.add_argument("--exact-strategy", choices=("auto", "window", "agg"),
                    default="auto",
                    help="'auto' probes the duplication ratio (bounded "
                         "limit scan) and picks agg for heavy duplication, "
                         "window otherwise; agg assumes unique ids")
    dd.add_argument("--paragraph-dedup", action="store_true",
                    help="run corpus-wide paragraph dedup (boilerplate "
                         "removal) before the document-level passes; docs "
                         "left with zero paragraphs are dropped")
    dd.add_argument("--near-threshold", type=float, default=None,
                    help="jaccard threshold; omit to skip the LSH pass")
    dd.add_argument("--num-hashes", type=int, default=64)
    dd.add_argument("--n-bands", type=int, default=16)
    dd.add_argument("--transitive", action="store_true",
                    help="exact single-link clusters (connected components)")
    dd.add_argument("--keep-best-col", default=None, dest="keep_best_col",
                    help="keep each transitive cluster's HIGHEST value of "
                         "this column instead of the min id (canonical-copy "
                         "selection; requires --transitive)")
    dd.add_argument("--max-bucket-size", type=int, default=5000,
                    help="LSH bucket cap (degenerate-bucket guard)")
    dd.add_argument("--audit-buckets", action="store_true",
                    help="record LSH bucket histogram stats (incl. how many "
                         "buckets the cap drops) in the stage manifest")
    dd.add_argument("--checkpoint-dir", default=None,
                    help="reliable checkpoint path (HDFS/S3) for iterative "
                         "stages; default localCheckpoint")
    dd.set_defaults(func=dedup_job)

    qf = sub.add_parser(
        "quality-filter",
        help="keep docs passing quality/length/repetition gates",
    )
    qf.add_argument("--input", required=True, help="parquet path or table id")
    qf.add_argument("--workdir", required=True)
    qf.add_argument("--text-col", default="text")
    qf.add_argument("--min-quality", type=float, default=0.3,
                    help="composite quality_score floor in [0,1]")
    qf.add_argument("--min-tokens", type=int, default=20)
    qf.add_argument("--max-tokens", type=int, default=None)
    qf.add_argument("--max-dup-line-frac", type=float, default=0.3,
                    help="Gopher duplicate-line fraction cap")
    qf.add_argument("--max-top-token-frac", type=float, default=0.2,
                    help="Gopher most-frequent-token fraction cap")
    qf.add_argument("--audit", action="store_true",
                    help="record rejection-reason counts in the manifest "
                         "(one extra aggregate scan)")
    qf.set_defaults(func=quality_filter_job)

    dr = sub.add_parser(
        "drift", help="PSI drift of a new slice vs a saved bins artifact"
    )
    dr.add_argument("--input", required=True, help="parquet path or table id")
    dr.add_argument("--model", required=True,
                    help="FittedBins/GroupedBins JSON (save_json artifact)")
    dr.add_argument("--workdir", required=True)
    dr.add_argument("--input-col", default=None,
                    help="column to score (default: the artifact's x)")
    dr.add_argument("--group-col", default=None,
                    help="group column override for GroupedBins artifacts")
    dr.add_argument("--smoothing", type=float, default=0.5)
    dr.add_argument("--weight-col", default=None, dest="weight_col",
                    help="sample-weight column on the scored slice "
                         "(frequency-weight bin counts)")
    dr.set_defaults(func=drift_job)

    ds = sub.add_parser(
        "drift-stream",
        help="incremental streaming PSI monitor: each run processes only "
             "files added since the last (streaming checkpoint cursor)",
    )
    ds.add_argument("--input", required=True,
                    help="parquet DIRECTORY being appended to")
    ds.add_argument("--model", required=True, help="FittedBins JSON")
    ds.add_argument("--workdir", required=True)
    ds.add_argument("--ts-col", default="ts")
    ds.add_argument("--input-col", default=None,
                    help="column to score (default: the artifact's x)")
    ds.add_argument("--window", default="1 hour")
    ds.add_argument("--watermark", default="10 minutes",
                    help="late-data allowance before a window closes")
    ds.add_argument("--smoothing", type=float, default=0.5)
    ds.set_defaults(func=drift_stream_job)

    pk = sub.add_parser("pack", help="concat-then-chunk sequence packing")
    pk.add_argument("--input", required=True, help="parquet path or table id")
    pk.add_argument("--workdir", required=True)
    pk.add_argument("--n-tok-col", default="n_tok")
    pk.add_argument("--id-col", default="doc_id")
    pk.add_argument("--budget", type=int, required=True,
                    help="tokens per packed chunk (context length)")
    pk.add_argument("--order-col", default=None,
                    help="unique numeric layout order (default: id col)")
    pk.add_argument("--tokens-col", default=None,
                    help="token-array column to slice into chunks")
    pk.set_defaults(func=pack_job)

    mx = sub.add_parser(
        "mix",
        help="temperature-mixture token sampling (+ optional packing)",
    )
    mx.add_argument("--input", required=True, help="parquet path or table id")
    mx.add_argument("--workdir", required=True)
    mx.add_argument("--group-col", default="source")
    mx.add_argument("--id-col", default="doc_id")
    mx.add_argument("--n-tok-col", default="n_tok")
    mx.add_argument("--total-budget", type=int, required=True,
                    help="total tokens in the mix (split per source by "
                         "n_i^alpha weights, water-filled to availability)")
    mx.add_argument("--alpha", type=float, default=0.7,
                    help="temperature exponent (1=proportional, 0=uniform)")
    mx.add_argument("--salt", default="mix",
                    help="hash salt: the sample is a pure function of "
                         "(group, id, salt)")
    mx.add_argument("--pack-budget", type=int, default=None,
                    help="tokens per packed chunk; omit to skip packing")
    mx.add_argument("--order-col", default=None,
                    help="unique numeric layout order for packing "
                         "(default: the id col, which must then be numeric)")
    mx.add_argument("--tokens-col", default=None,
                    help="token-array column to slice when packing")
    mx.set_defaults(func=mix_job)

    tr = sub.add_parser(
        "transform",
        help="score a fresh slice from a saved model.json (no refit)",
    )
    tr.add_argument("--input", required=True, help="parquet path or table id")
    tr.add_argument("--model", required=True,
                    help="FittedBins/GroupedBins JSON from fit-woe")
    tr.add_argument("--workdir", required=True)
    tr.add_argument("--assign", default="woe",
                    choices=("interval", "left", "right", "woe"))
    tr.add_argument("--input-col", default=None,
                    help="column to score (default: the artifact's x)")
    tr.add_argument("--output-col", default=None)
    tr.add_argument("--group-col", default=None,
                    help="grouped artifacts: override the group column")
    tr.add_argument("--partition-by", default=None,
                    help="partition the scored output by this column")
    tr.set_defaults(func=transform_job)

    so = sub.add_parser(
        "score",
        help="apply a saved scorecard.json: points + adverse reason codes",
    )
    so.add_argument("--input", required=True, help="parquet path or table id")
    so.add_argument("--scorecard", required=True,
                    help="Scorecard JSON (Scorecard.save_json artifact)")
    so.add_argument("--workdir", required=True)
    so.add_argument("--reasons", action="store_true",
                    help="also emit top-k adverse-action reason codes")
    so.add_argument("--top-k", type=int, default=3)
    so.add_argument("--keep-points", action="store_true",
                    help="keep the per-feature points columns")
    so.set_defaults(func=score_job)

    sc = sub.add_parser(
        "screen", help="rank candidate features by IV before fit-woe"
    )
    sc.add_argument("--input", required=True, help="parquet path or table id")
    sc.add_argument("--features", required=True,
                    help="comma-separated numeric columns, 'auto' for "
                         "every numeric column except --y, or 'none' "
                         "(categorical-only screen)")
    sc.add_argument("--categorical", default=None,
                    help="comma-separated string columns to screen as "
                         "categorical (each category = one bucket; IV via "
                         "totals-join, no per-feature window), or 'auto' "
                         "for every string column except --y/--group-col")
    sc.add_argument("--y", required=True, help="binary target column")
    sc.add_argument("--workdir", required=True)
    sc.add_argument("--n-buckets", type=int, default=10)
    sc.add_argument("--group-col", default=None,
                    help="also screen per group of this column (global "
                         "cuts; one output row per group x feature)")
    sc.add_argument("--weight-col", default=None, dest="weight_col",
                    help="sample-weight column: screen on frequency-"
                         "weighted IVs, matching fit-woe --weight-col")
    sc.add_argument("--top-k", type=int, default=None,
                    help="how many ranked features to surface in the "
                         "stage manifest (default: all)")
    sc.add_argument("--corr-threshold", type=float, default=None,
                    help="after ranking, drop the lower-IV feature of any "
                         "numeric pair with |pearson| above this (one-scan "
                         "k x k correlation matrix + driver greedy; "
                         "kept/dropped recorded in the manifest)")
    sc.set_defaults(func=screen_job)

    sj = sub.add_parser(
        "scale",
        help="fit/serve FeatureStats: impute/clip/standardize in one "
             "codegen pass",
    )
    sj.add_argument("--input", required=True, help="parquet path or table id")
    sj.add_argument("--cols", required=True,
                    help="comma-separated numeric columns, or 'auto'")
    sj.add_argument("--workdir", required=True)
    sj.add_argument("--stats", default=None,
                    help="serve a saved feature_stats.json instead of "
                         "fitting on the input (train/serve-skew-safe "
                         "scoring mode)")
    sj.add_argument("--exact", action="store_true",
                    help="exact interpolated percentiles (sort-based) "
                         "instead of the one-pass sketch")
    sj.add_argument("--weight-col", default=None, dest="weight_col",
                    help="integer sample-weight column: weighted "
                         "statistics (replication-exact; weighted "
                         "quantiles via frequency percentile)")
    sj.add_argument("--impute", default=None,
                    help="'median' | 'mean' | 'min' | 'max' | a numeric "
                         "constant")
    sj.add_argument("--clip-k-iqr", type=float, default=None,
                    dest="clip_k_iqr",
                    help="winsorize to Tukey fences [q1-k*IQR, q3+k*IQR]")
    sj.add_argument("--standardize", action="store_true",
                    help="add <col>_z = (x - train_mean) / train_std")
    sj.add_argument("--robust", action="store_true",
                    help="add <col>_r = (x - train_median) / train_IQR")
    sj.set_defaults(func=scale_job)

    ex = sub.add_parser(
        "expect",
        help="one-scan data-contract gate: evaluate a JSON expectation "
             "suite; --strict exits 2 on any violation",
    )
    ex.add_argument("--input", required=True, help="parquet path or table id")
    ex.add_argument("--workdir", required=True)
    ex.add_argument("--suite", required=True,
                    help="expectation-suite JSON (operators.expectations."
                         "save_suite)")
    ex.add_argument("--strict", action="store_true",
                    help="exit 2 when any expectation fails")
    ex.add_argument("--rsd", type=float, default=0.02,
                    help="HyperLogLog relative error for approx unique")
    ex.add_argument("--run-id", default=None, dest="run_id",
                    help="extra gate-key salt for catalog tables (no "
                         "file listing): pass a new value after an "
                         "in-place table rewrite to force re-evaluation")
    ex.set_defaults(func=expect_job)

    pf = sub.add_parser(
        "profile",
        help="one-scan per-column table profile (nulls, distincts, "
             "moments, top value) as a checkpoint stage",
    )
    pf.add_argument("--input", required=True, help="parquet path or table id")
    pf.add_argument("--workdir", required=True)
    pf.add_argument("--columns", default=None,
                    help="comma-separated columns (default: all)")
    pf.add_argument("--approx", action="store_true",
                    help="HyperLogLog distincts instead of exact "
                         "(shuffle-free single aggregate; no top values)")
    pf.add_argument("--rsd", type=float, default=0.02,
                    help="approx_count_distinct relative error (--approx)")
    pf.set_defaults(func=profile_job)

    an = sub.add_parser(
        "ann", help="IVF top-k with a fit-once saved codebook artifact"
    )
    an.add_argument("--input", required=True,
                    help="corpus parquet path or table id")
    an.add_argument("--queries", required=True,
                    help="query-batch parquet path or table id")
    an.add_argument(
        "--queries-format", default=None, dest="queries_format",
        help="force a DataSource for --queries (defaults to "
             "--input-format)",
    )
    an.add_argument(
        "--queries-options", default=None, dest="queries_options",
        help="comma-separated reader options k=v for --queries "
             "(defaults to --input-options)",
    )
    an.add_argument("--workdir", required=True)
    an.add_argument("--k", type=int, default=10)
    an.add_argument("--vec-col", default="embedding")
    an.add_argument("--id-col", default="vec_id")
    an.add_argument("--query-id-col", default="query_id")
    an.add_argument("--query-vec-col", default="embedding")
    an.add_argument("--n-cells", type=int, default=64,
                    help="KMeans cells (codebook fit only; reloads ignore)")
    an.add_argument("--n-probe", type=int, default=4)
    an.add_argument("--seed", type=int, default=42)
    an.add_argument("--train-fraction", type=float, default=None,
                    help="sample fraction for the codebook fit")
    an.set_defaults(func=ann_job)

    # every job reads --input through sources.tables.read_table; the
    # optional format override (e.g. 'iceberg' for a Hadoop-located
    # Iceberg table, 'orc', 'csv') applies uniformly
    for sp in sub.choices.values():
        sp.add_argument(
            "--input-format", default=None, dest="input_format",
            help="force a DataSource for --input (e.g. iceberg, orc); "
                 "default routes parquet paths vs catalog identifiers",
        )
        sp.add_argument(
            "--input-options", default=None, dest="input_options",
            help="comma-separated reader options k=v "
                 "(e.g. header=true,inferSchema=true)",
        )

    args = p.parse_args(argv)
    args.func(args)


if __name__ == "__main__":
    main()
