"""CLI entrypoint: ``python -m dcspark.cli <command>`` (spark-submit-able).

Command parity with the reference CLI (/root/reference/datacontract/cli.py):
``test`` (:110-158), ``lint`` (:85-107), ``export`` (:161-233), ``import``
(:236-325), ``breaking``/``changelog`` (:383-429). Designed for
``spark-submit --py-files dcspark.zip dcspark/cli.py test ...`` on a cluster;
locally it builds its own session (local[N]).
"""

from __future__ import annotations

import argparse
import json
import sys
from typing import Optional


def _build_spark(master: Optional[str], shuffle_partitions: Optional[int]):
    from pyspark.sql import SparkSession

    builder = SparkSession.builder.appName("dcspark")
    if master:
        builder = builder.master(master)
    builder = (
        builder.config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # wide binary cells (audio payloads): bound the vectorized reader's
        # columnar batch so scans don't degrade into humongous G1
        # allocations. 128 rows (vs the bench harness's tuned 512 on a 24g
        # heap): worst-case ~192KB clips x 128 rows x 32 scan threads plus
        # doubling growth stays under a spark-submit default-sized heap —
        # 512 was measured to OOM an 8g driver on exactly that shape
        .config("spark.sql.parquet.columnarReaderBatchSize", "128")
        .config("spark.python.unix.domain.socket.enabled", "true")
    )
    if shuffle_partitions:
        builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    return builder.getOrCreate()


def _drift_columns(spec) -> dict:
    """model -> [columns with a drift quality rule] (driver-pure)."""
    from .compile import create_checks

    out = {}
    for model_name, checks in create_checks(spec).items():
        cols = [c.params["column"] for c in checks if c.kind == "drift"]
        if cols:
            out[model_name] = cols
    return out


def _drift_methods(spec) -> dict:
    """model -> {column: set of drift methods declared on it}."""
    from .compile import create_checks

    out: dict = {}
    for model_name, checks in create_checks(spec).items():
        for c in checks:
            if c.kind == "drift":
                out.setdefault(model_name, {}).setdefault(
                    c.params["column"], set()).add(c.params["method"])
    return out


def _audio_drift_features(spec) -> dict:
    """model -> [decoded-PCM features with a loudness-drift rule]."""
    from .compile import create_checks

    out = {}
    for model_name, checks in create_checks(spec).items():
        feats = [c.params["feature"] for c in checks if c.kind == "audio_drift"]
        if feats:
            out[model_name] = sorted(set(feats))
    return out


def _image_drift_features(spec) -> dict:
    """model -> {bytes_col: [decoded-raster features with a luminance-drift
    rule on that payload column]}. Raises when one feature is snapshotted
    from two different payload columns — the 'image:<feature>' ref_stats
    key carries no column, so that configuration is ambiguous."""
    from .compile import create_checks

    out = {}
    for model_name, checks in create_checks(spec).items():
        groups: dict = {}
        feat_col: dict = {}
        for c in checks:
            if c.kind != "image_drift":
                continue
            feat, bc = c.params["feature"], c.params["bytes_col"]
            if feat_col.setdefault(feat, bc) != bc:
                raise ValueError(
                    f"model {model_name}: image drift feature {feat!r} is "
                    f"declared on two payload columns "
                    f"({feat_col[feat]!r} and {bc!r}) — the snapshot key "
                    f"'image:{feat}' cannot distinguish them; use distinct "
                    "features per payload column")
            groups.setdefault(bc, set()).add(feat)
        if groups:
            out[model_name] = {bc: sorted(fs) for bc, fs in groups.items()}
    return out


def _load_ref_stats(spark, spec, ref_stats_dir: str) -> dict:
    """{model: {column: stats}} from <dir>/<model>.parquet snapshot tables."""
    import os

    from .drift import ref_stats_from_df

    out = {}
    for model_name in spec.models:
        path = os.path.join(ref_stats_dir, f"{model_name}.parquet")
        if os.path.exists(path):
            out[model_name] = ref_stats_from_df(spark.read.parquet(path))
    return out


def _iceberg_table_location(spec, server_name, base_path, model_name: str) -> str:
    """Resolve the on-disk Iceberg table root for a model (mirrors
    io._read_iceberg's fallback candidates: <root>/<model> then <root>)."""
    import os

    server = None
    if spec.servers:
        if server_name and server_name in spec.servers:
            server = spec.servers[server_name]
        else:
            server = next(iter(spec.servers.values()))
    root = base_path or (server.location or server.path if server else None)
    if not root:
        raise ValueError(f"no Iceberg location for model {model_name}")
    for candidate in (os.path.join(root, model_name), root):
        if os.path.isdir(os.path.join(candidate, "metadata")):
            return candidate
    raise ValueError(f"no Iceberg metadata tree under {root} for {model_name}")


def cmd_iceberg(args: argparse.Namespace) -> int:
    """Iceberg table maintenance over the pure-Python format reader."""
    from .iceberg import IcebergTable

    t = IcebergTable(args.table)
    if not t.exists():
        print(f"no Iceberg table at {args.table}")
        return 1
    if args.action == "snapshots":
        for s in t.snapshots():
            print(f"{s['snapshot-id']}  ts={s['timestamp-ms']}  "
                  f"op={s.get('summary', {}).get('operation', '?')}")
        return 0
    if args.action == "files":
        from .iceberg import parse_where

        cf = parse_where(args.where) if args.where else None
        files = t.data_files(snapshot_id=args.snapshot_id, column_filter=cf)
        for p in files:
            print(p)
        if cf:
            total = len(t.data_files(snapshot_id=args.snapshot_id))
            print(f"# planned {len(files)}/{total} files "
                  f"(stats pruning skipped {total - len(files)})")
        return 0
    if args.action == "stats":
        from .iceberg import deserialize_bound

        md = t.metadata()
        fids = t._field_id_types(md)
        by_fid = {fid: (n, ice_t) for n, (fid, ice_t) in fids.items()}
        snap = t._resolve_snapshot(md, args.snapshot_id, None)
        if snap is None:
            print("no snapshot")
            return 1
        for r in t._live_files(t._read_manifest_list(snap["manifest-list"])):
            if r["content"] != 0:
                continue
            d = r["entry"]["data_file"]
            lo = {x["key"]: x["value"] for x in (d.get("lower_bounds") or [])}
            hi = {x["key"]: x["value"] for x in (d.get("upper_bounds") or [])}
            nn = {x["key"]: x["value"] for x in
                  (d.get("null_value_counts") or [])}
            parts = []
            for fid in sorted(by_fid):
                name, ice_t = by_fid[fid]
                l_ = deserialize_bound(lo.get(fid), ice_t)
                h_ = deserialize_bound(hi.get(fid), ice_t)
                if l_ is None and h_ is None and fid not in nn:
                    continue
                parts.append(f"{name}=[{l_!r}..{h_!r}] "
                             f"nulls={nn.get(fid, '?')}")
            print(f"{d['file_path']}  rows={d['record_count']}")
            for p in parts:
                print(f"  {p}")
        return 0
    if args.action == "expire":
        out = t.expire_snapshots(keep_last=args.keep_last)
        print(f"expired {out['snapshots_removed']} snapshots, "
              f"deleted {out['files_deleted']} files")
        return 0
    if args.action == "orphans":
        out = t.remove_orphan_files(older_than_ms=args.older_than_ms,
                                    dry_run=args.dry_run)
        verb = "would remove" if args.dry_run else "removed"
        print(f"{verb} {out['orphans_removed']} orphan files "
              f"(scanned {out['files_scanned']})")
        return 0
    if args.action == "refs":
        for name, r in sorted(t.refs().items()):
            print(f"{name}  type={r.get('type')}  "
                  f"snapshot={r.get('snapshot-id')}")
        return 0
    if args.action == "tag":
        sid = t.create_tag(args.name, snapshot_id=args.snapshot_id)
        print(f"tag {args.name} -> {sid}")
        return 0
    if args.action == "branch":
        sid = t.create_branch(args.name, snapshot_id=args.snapshot_id)
        print(f"branch {args.name} -> {sid}")
        return 0
    if args.action == "publish":
        sid = t.fast_forward("main", args.name)
        print(f"main fast-forwarded to {args.name} ({sid})")
        return 0
    if args.action == "compact":
        spark = _build_spark(args.master, args.shuffle_partitions)
        cluster = ([c.strip() for c in args.cluster_by.split(",") if c.strip()]
                   if args.cluster_by else None)
        out = t.compact(spark,
                        target_file_bytes=args.target_file_mb * 1024 * 1024,
                        cluster_by=cluster)
        print(f"rewrote {out['rewritten_data_files']} data files "
              f"({out['rewritten_bytes']} bytes) into "
              f"{out['added_data_files']}; retired "
              f"{out['removed_delete_files']} delete files")
        return 0
    if args.action == "verify":
        spark = _build_spark(args.master, args.shuffle_partitions)
        keys = ([k.strip() for k in args.keys.split(",") if k.strip()]
                if args.keys else None)
        r = t.verify_rewrite(spark, from_snapshot_id=args.from_snapshot,
                             to_snapshot_id=args.snapshot_id, keys=keys)
        if r.identical:
            print(f"verify: logical content identical "
                  f"({r.rows_left} rows, {r.buckets_total} digest buckets)")
            return 0
        print(f"verify: CONTENT DRIFT — {r.buckets_differing}/"
              f"{r.buckets_total} buckets differ "
              f"(rows {r.rows_left} -> {r.rows_right})")
        if keys:
            for status, n in sorted(r.counts.items()):
                print(f"  {status}: {n}")
        return 1
    return 1


def cmd_snapshot(args: argparse.Namespace) -> int:
    """Build the drift reference snapshot (quantile grid + bin probs) from a
    trusted data snapshot; `test --ref-stats` evaluates later runs against it."""
    import os

    from .drift import build_ref_stats, ref_stats_to_df
    from .io import load_tables
    from .spec import DataContractSpecification

    spec = DataContractSpecification.from_file(args.contract)
    spark = _build_spark(args.master, args.shuffle_partitions)
    by_model = _drift_columns(spec)
    audio_by_model = _audio_drift_features(spec)
    image_by_model = _image_drift_features(spec)
    if not by_model and not audio_by_model and not image_by_model:
        print("no drift rules in contract; nothing to snapshot")
        return 0
    tables = load_tables(spark, spec, server_name=args.server, base_path=args.path)
    os.makedirs(args.out, exist_ok=True)
    for model_name in sorted(set(by_model) | set(audio_by_model)
                             | set(image_by_model)):
        cols = by_model.get(model_name, [])
        stats = {}
        if cols:
            # string-typed drift columns get a categorical frequency snapshot
            # (top values + OTHER); everything else the numeric quantile grid
            from pyspark.sql import types as T

            from .drift import build_categorical_ref_stats

            schema = {f.name: f.dataType for f in tables[model_name].schema.fields}
            cat_cols = [c for c in cols if isinstance(schema.get(c), T.StringType)]
            num_cols = [c for c in cols if c not in cat_cols]
            # fail fast: a categorical snapshot only serves PSI, and KS is
            # the rule's default when method is omitted — surface the
            # misconfiguration here, not on every later `test` run
            methods = _drift_methods(spec).get(model_name, {})
            bad = [c for c in cat_cols if methods.get(c, set()) - {"psi"}]
            if bad:
                print(
                    f"snapshot: string drift column(s) {bad} declare a non-psi "
                    "method (ks is the default when omitted) — categorical "
                    "snapshots support psi only; set 'method: psi' on these "
                    "rules")
                return 2
            if num_cols:
                stats.update(build_ref_stats(
                    tables[model_name].select(*num_cols), num_cols))
            if cat_cols:
                stats.update(build_categorical_ref_stats(
                    tables[model_name], cat_cols))
        feats = audio_by_model.get(model_name, [])
        if feats:
            # decoded-PCM feature snapshot: one decode pass over the reference
            # sample -> per-feature quantile grid + bin probs, stored in the
            # same parquet under 'audio:<feature>' keys
            from .audio import audio_feature_frame

            # build_ref_stats takes two actions (quantile sketch + bin agg);
            # persist the tiny (clip_id, features) frame so the reference
            # sample is decoded once, not twice
            frame = audio_feature_frame(tables[model_name], features=feats).persist()
            try:
                fstats = build_ref_stats(frame, feats)
            finally:
                frame.unpersist()
            stats.update({f"audio:{f}": s for f, s in fstats.items()})
        img_groups = image_by_model.get(model_name, {})
        ifeats = sorted(f for fs in img_groups.values() for f in fs)
        for img_bytes_col, group_feats in sorted(img_groups.items()):
            # decoded-raster feature snapshot: one fused decode pass PER
            # payload column over the reference sample -> 'image:<feature>'
            # keys, same parquet (each feature from ITS declared column)
            from pyspark.sql import functions as SF

            from .imagefp import image_compact
            from .spec import model_pk

            table = tables[model_name]
            frame = image_compact(
                table, id_col=model_pk(spec, model_name, table),
                bytes_col=img_bytes_col, features=tuple(group_feats)
            ).filter(SF.col("decode_error").isNull()).select(
                *[SF.col(f"f_{f}").alias(f) for f in group_feats]).persist()
            try:
                istats = build_ref_stats(frame, list(group_feats))
            finally:
                frame.unpersist()
            stats.update({f"image:{f}": s for f, s in istats.items()})
        out_path = os.path.join(args.out, f"{model_name}.parquet")
        ref_stats_to_df(spark, stats).write.mode("overwrite").parquet(out_path)
        print(f"snapshot: {model_name} columns={cols} audio={feats} "
              f"image={ifeats} -> {out_path}")
    return 0


def _resolve_where(args: argparse.Namespace, spec) -> dict:
    """--where targets --model when given, else a single-model contract's
    only model; ambiguous multi-model contracts must name the target."""
    if not getattr(args, "where", None):
        return {}
    model = getattr(args, "model", None)
    if model is None:
        if len(spec.models) != 1:
            raise SystemExit(
                "--where with a multi-model contract needs --model "
                f"(models: {', '.join(spec.models)})")
        model = next(iter(spec.models))
    elif model not in spec.models:
        # a typo'd --model would otherwise silently validate the FULL table
        # while the user believes the slice passed
        raise SystemExit(
            f"--model {model!r} is not in the contract "
            f"(models: {', '.join(spec.models)})")
    return {model: args.where}


def _test_dry_run(spec, args: argparse.Namespace) -> int:
    """`test --dry-run`: compile every rule and print the execution plan —
    check inventory, the Spark job each check rides, effective row scopes —
    without a Spark session or any data access. Compilation is driver-pure
    (CompiledCheck thunks never need a SparkContext), so this is the free
    pre-flight for a 10^12-row run: catch typo'd filters, missing columns
    in scopes, or an accidental per-check fan-out before paying for a scan."""
    from .compile import create_checks
    from .engine import family_groups, plan_audio_scan, plan_model

    server_format = None
    if args.server and args.server in (spec.servers or {}):
        server_format = spec.servers[args.server].format
    where = _resolve_where(args, spec)
    checks_by_model = create_checks(spec, server_format)
    print(f"DRY RUN — compiled plan for {spec.id or args.contract} "
          "(no Spark session, no data read)")
    for model_name, checks in checks_by_model.items():
        model = spec.models[model_name]
        print(f"\nmodel {model_name}: {len(checks)} checks")
        scopes = []
        if getattr(model, "filter", None):
            scopes.append(f"contract filter: {model.filter}")
        if where.get(model_name):
            scopes.append(f"--where: {where[model_name]}")
        if scopes:
            print("  row scope (ANDed, pushed into the source scan): "
                  + " AND ".join(scopes))
        # Job shapes come from the engine's own family table and planning
        # (engine.FAMILIES / plan_model), so the printed plan can't drift
        # from actual execution. Two inputs the dry-run can't see are
        # caveated: whether --partition-col exists in the data (assumed yes
        # when the flag is given) and whether the --ref-stats snapshot
        # carries each audio-drift feature (assumed yes when --ref-stats is
        # given).
        plan = plan_model(
            family_groups(checks),
            unique_mode=getattr(args, "unique_mode", "exact") or "exact",
            reference_mode=getattr(args, "reference_mode", "exact") or "exact",
            audio_scan=plan_audio_scan(
                checks, lambda c: bool(getattr(args, "ref_stats", None))),
            resume_active=bool(getattr(args, "partition_col", None)
                               and getattr(args, "checkpoint_dir", None)))
        # one printed row per JOB IDENTITY (the same-job batchings — fused
        # decode pass, shared scan — merge; genuinely separate jobs never
        # do), with per-variant detail as indented sub-lines when a job
        # carries more than one
        by_job: dict = {}
        for c in checks:
            job, detail = plan.shape_of(c)
            by_job.setdefault(job, {}).setdefault(detail, []).append(c)
        print("  jobs:")
        for job, variants in sorted(
                by_job.items(), key=lambda kv: -sum(len(v) for v in kv[1].values())):
            total_n = sum(len(v) for v in variants.values())
            details = [d for d in variants if d is not None]
            if not details:
                print(f"    {total_n:3d}  {job}")
                continue
            if len(variants) == 1:
                print(f"    {total_n:3d}  {job} ({details[0]})")
                continue
            print(f"    {total_n:3d}  {job}")
            for detail, cs in sorted(variants.items(),
                                     key=lambda kv: -len(kv[1])):
                print(f"         {len(cs):3d}x ({detail or 'base job'})")
        print("  checks:")
        for c in checks:
            line = f"    [{c.kind:>14s}] {c.key}"
            if c.params.get("filter"):
                line += f"  (filter: {c.params['filter']})"
            print(line)
            if c.expected:
                print(f"{'':22s}expected: {c.expected}")
            if c.implementation:
                print(f"{'':22s}impl: {c.implementation}")
    if args.sample_fraction is not None:
        print(f"\nsample mode: every data check would run on a deterministic "
              f"{args.sample_fraction:.4%} keyed-hash sample "
              f"(seed {args.sample_seed})")
    return 0


def _resolve_mode_profile(args: argparse.Namespace) -> None:
    """Fill unset per-check mode flags from --profile: certify = every check
    exact (the defaults); sweep = the shuffle-light modes (approx unique +
    approx reference + t-digest quantiles). An explicitly passed individual
    flag always wins over the profile."""
    sweep = getattr(args, "profile", "certify") == "sweep"
    if getattr(args, "unique_mode", None) is None:
        args.unique_mode = "approx" if sweep else "exact"
    if getattr(args, "reference_mode", None) is None:
        args.reference_mode = "approx" if sweep else "exact"
    if getattr(args, "pctl_mode", None) is None:
        args.pctl_mode = "sketch" if sweep else "exact"


def cmd_test(args: argparse.Namespace) -> int:
    from .engine import ValidationConfig, validate
    from .io import load_tables, write_results
    from .output import exit_code, print_console, write_junit_xml
    from .spec import DataContractSpecification

    _resolve_mode_profile(args)
    spec = DataContractSpecification.from_file(args.contract)
    if args.dry_run:
        return _test_dry_run(spec, args)
    spark = _build_spark(args.master, args.shuffle_partitions)
    tables = load_tables(spark, spec, server_name=args.server, base_path=args.path)
    cfg = ValidationConfig(
        partition_col=args.partition_col,
        checkpoint_dir=args.checkpoint_dir,
        resume=args.resume,
        ref_stats=_load_ref_stats(spark, spec, args.ref_stats) if args.ref_stats else {},
        unique_mode=args.unique_mode,
        reference_mode=args.reference_mode,
        pctl_mode=args.pctl_mode,
        # history checks read a results table this engine wrote; default to
        # the results sink so `--results-path r.parquet` alone closes the loop
        history_path=args.history_path or args.results_path,
        history_format=args.history_format,
        sample_fraction=args.sample_fraction,
        sample_seed=args.sample_seed,
        model_where=_resolve_where(args, spec),
    )
    if args.incremental_state:
        # validate ONLY rows appended to the model's Iceberg table since the
        # snapshot recorded in the state file (streaming.py poll shape)
        from .streaming import validate_iceberg_increments

        model_name = args.model or next(iter(spec.models))
        loc = _iceberg_table_location(spec, args.server, args.path, model_name)
        static = {k: v for k, v in tables.items() if k != model_name}
        result = validate_iceberg_increments(
            spark, spec, loc, model_name, args.incremental_state,
            static_tables=static, config=cfg,
            results_sink=args.results_path)
        if result is None:
            print(f"incremental: no new snapshots for {model_name} — nothing to do")
            return 0
        print_console(result.run)
        if args.junit:
            write_junit_xml(result.run, args.junit)
        return exit_code(result.run)
    result = validate(spark, spec, tables, cfg)
    print_console(result.run)
    if args.junit:
        write_junit_xml(result.run, args.junit)
    if args.results_path and args.sample_fraction is not None:
        # the results table doubles as the metric-history store; raw sample
        # counts appended there would poison every future change/anomaly rule
        print("results: NOT writing sampled-run metrics to "
              f"{args.results_path} (pre-flight runs don't join the "
              "full-run history series)")
    elif args.results_path:
        # explicit schema: an all-pass run has every `reason` NULL, which
        # would fail dict type inference
        from .engine import RESULTS_DDL, rows_frame

        write_results(rows_frame(spark, result.results, RESULTS_DDL),
                      args.results_path)
    if args.violations_path and result.violations is not None:
        write_results(result.violations, args.violations_path)
    if args.publish:
        from .publish import publish_run

        publish_run(result.run, args.publish)
    if args.quarantine_path:
        # full quarantined rows (not just the capped violation sample):
        # one extra scan per model over the row-local rules + reference
        # joins — see dcspark/filter.py
        from . import filter as filter_mod
        from pyspark.sql import functions as F

        for model_name, df in tables.items():
            _, quar = filter_mod.split(df, spec, model_name, tables)
            quar.withColumn(
                filter_mod.REASONS_COL,
                F.array_join(filter_mod.REASONS_COL, ","),
            ).write.mode("overwrite").parquet(
                f"{args.quarantine_path}/{model_name}")
    return exit_code(result.run)


def cmd_delta(args: argparse.Namespace) -> int:
    """Delta table maintenance over the pure-Python protocol
    (dcspark/deltalog.py)."""
    from .deltalog import DeltaTable

    t = DeltaTable(args.table)
    if args.action == "versions":
        print(f"latest version: {t.latest_version()}")
        return 0
    if args.action == "files":
        for p in t.files():
            print(p)
        return 0
    if args.action == "checkpoint":
        print(f"wrote {t.checkpoint()}")
        return 0
    if args.action == "clean":
        print(f"removed {t.clean_log()} redundant commit files")
        return 0
    return 2


def cmd_wap(args: argparse.Namespace) -> int:
    """Write-audit-publish one batch into an Iceberg table (dcspark/wap.py):
    the batch lands on the audit branch, the contract run gates the
    metadata-only publish to main; a red batch quarantines instead."""
    from .engine import ValidationConfig
    from .io import load_tables
    from .output import print_console
    from .spec import DataContractSpecification
    from .wap import wap_append

    spec = DataContractSpecification.from_file(args.contract)
    spark = _build_spark(args.master, args.shuffle_partitions)
    df = spark.read.parquet(args.input)
    model_name = args.model or next(iter(spec.models))
    static = None
    if args.static_path:
        tables = load_tables(spark, spec, server_name=None,
                             base_path=args.static_path)
        static = {k: v for k, v in tables.items() if k != model_name}
    cfg = ValidationConfig(
        ref_stats=_load_ref_stats(spark, spec, args.ref_stats)
        if args.ref_stats else {})
    out = wap_append(spark, spec, args.table, df, model_name,
                     branch=args.branch, static_tables=static,
                     config=cfg, quarantine_sink=args.quarantine,
                     on_fail=args.on_fail)
    if out.result is not None:
        print_console(out.result.run)
    if out.published:
        extra = (f" (salvaged {out.salvaged_rows}, quarantined "
                 f"{out.quarantined_rows})" if out.salvaged_rows else "")
        print(f"PUBLISHED {out.rows} rows -> main head {out.main_head}"
              + extra)
        return 0
    if out.rows == 0:
        print("empty batch — nothing to do")
        return 0
    print(f"REJECTED {out.rows} rows (audit snapshot {out.snapshot_id}; "
          f"quarantined {out.quarantined_rows}); failed: "
          + ", ".join(out.failed_checks))
    return 1


def cmd_profile(args: argparse.Namespace) -> int:
    from .io import load_tables
    from .profile import profile_tables
    from .spec import DataContractSpecification

    spec = DataContractSpecification.from_file(args.contract)
    spark = _build_spark(args.master, args.shuffle_partitions)
    tables = load_tables(spark, spec, server_name=args.server, base_path=args.path)
    stats = profile_tables(spark, tables)
    if args.output:
        stats.write.mode("overwrite").parquet(args.output)
        print(f"profile: wrote {stats.count()} column rows -> {args.output}")
    else:
        stats.show(n=1000, truncate=False)
    return 0


def cmd_filter(args: argparse.Namespace) -> int:
    """Split each model's table into valid rows and quarantine (per-row
    failure reasons) in one scan — see dcspark/filter.py."""
    from . import filter as filter_mod
    from .io import load_tables
    from .spec import DataContractSpecification

    spec = DataContractSpecification.from_file(args.contract)
    spark = _build_spark(args.master, args.shuffle_partitions)
    tables = load_tables(spark, spec, server_name=args.server, base_path=args.path)
    models = [args.model] if args.model else list(tables)
    for model_name in models:
        out = f"{args.output}/{model_name}"
        filter_mod.write_split(
            tables[model_name], spec, model_name, out, tables=tables)
        print(f"filter: {model_name} -> {out}/__valid=true|false")
    return 0


def cmd_dedup(args: argparse.Namespace) -> int:
    """MinHash-LSH near-duplicate pairs over a documents table, with
    stage-checkpoint resume (dcspark/pipeline_ckpt.py): a killed run
    restarts from its last completed stage, not from zero."""
    from pyspark.sql import functions as F

    from . import textops

    spark = _build_spark(args.master, args.shuffle_partitions)
    docs = spark.read.parquet(args.input).select(
        F.col(args.id_col).alias("doc_id"), F.col(args.text_col).alias("text"))
    pairs = textops.minhash_near_dups(
        docs, threshold=args.threshold, n=args.ngram,
        max_bucket=args.max_bucket, checkpoint=args.checkpoint)
    pairs.write.mode("overwrite").parquet(args.output)
    n = spark.read.parquet(args.output).count()
    print(f"dedup: {n} near-dup pairs (jaccard >= {args.threshold}) -> {args.output}")
    if args.survivors:
        from . import cluster as cluster_mod
        from .textops import words_expr

        members = cluster_mod.near_dup_clusters(
            spark.read.parquet(args.output)).select(
            "doc_id", "cluster_id", "cluster_size")
        scores = docs.select(
            "doc_id", F.size(words_expr("text")).cast("long").alias("score"))
        sel = cluster_mod.survivor_selection(members, scores)
        sel.write.mode("overwrite").parquet(args.survivors)
        out = spark.read.parquet(args.survivors)
        kept, dropped = out.agg(
            F.count(F.when(F.col("keep"), 1)),
            F.count(F.when(~F.col("keep"), 1))).first()
        print(f"dedup: survivor selection (best token count per cluster): "
              f"{kept} kept, {dropped} to drop -> {args.survivors}")
    return 0


def cmd_lmscore(args: argparse.Namespace) -> int:
    """CCNet-style bigram-LM perplexity scoring (dcspark/lmscore.py): train
    on a reference corpus (or the input itself) in one scan, score every doc,
    optionally bucket head/middle/tail per group."""
    from pyspark.sql import functions as F

    from . import lmscore, pipeline_ckpt

    spark = _build_spark(args.master, args.shuffle_partitions)
    docs = spark.read.parquet(args.input).select(
        F.col(args.id_col).alias("doc_id"), F.col(args.text_col).alias("text"),
        *([F.col(args.bucket_by)] if args.bucket_by else []))
    if args.train:
        ref = spark.read.parquet(args.train).select(
            F.col(args.id_col).alias("doc_id"),
            F.col(args.text_col).alias("text"))
        lm = lmscore.train_bigram_lm(ref, min_count=args.min_count)
        scored = lmscore.perplexity(docs, lm, k=args.k)
    else:
        scored = lmscore.self_perplexity(docs, k=args.k,
                                         min_count=args.min_count)
    if args.bucket_by or args.buckets:
        scored = lmscore.perplexity_buckets(
            scored.join(docs.drop("text"), "doc_id", "left")
            if args.bucket_by else scored,
            n_buckets=args.buckets or 3, by=args.bucket_by)
    scored.write.mode("overwrite").parquet(args.output)
    pipeline_ckpt.release_caches(scored)
    n, med = spark.read.parquet(args.output).agg(
        F.count(F.lit(1)), F.median("perplexity")).first()
    print(f"lmscore: {n} documents scored (median perplexity "
          f"{med:.1f}) -> {args.output}")
    return 0


def cmd_mixture(args: argparse.Namespace) -> int:
    """Domain-mixture reweighting (dcspark/sampling.py mixture_sample):
    deterministic sampling toward target domain shares under a token budget."""
    from pyspark.sql import functions as F

    from . import sampling
    from .textops import words_expr

    targets = {}
    for part in args.targets.split(","):
        k, _, v = part.partition("=")
        targets[k.strip()] = float(v)
    spark = _build_spark(args.master, args.shuffle_partitions)
    docs = spark.read.parquet(args.input)
    token_col = args.token_col
    if token_col == "__derive__":
        docs = docs.withColumn(
            "__tokens", F.size(words_expr(args.text_col)).cast("long"))
        token_col = "__tokens"
    kept = sampling.mixture_sample(
        docs, args.id_col, args.domain_col, targets,
        budget_tokens=args.budget_tokens, budget_share=args.budget_share,
        token_col=token_col, salt=args.salt)
    kept.drop("__tokens").write.mode("overwrite").parquet(args.output)
    summary = (spark.read.parquet(args.output)
               .groupBy(args.domain_col).count().collect())
    mix = ", ".join(f"{r[args.domain_col]}={r['count']}" for r in summary)
    print(f"mixture: kept {sum(r['count'] for r in summary)} docs "
          f"({mix}) -> {args.output}")
    return 0


def cmd_split(args: argparse.Namespace) -> int:
    """Deterministic train/val/test assignment (dcspark/sampling.py); with
    --pairs, near-dup clusters move as a unit so no pair straddles splits."""
    from pyspark.sql import functions as F

    from . import sampling

    fractions = {}
    for part in args.fractions.split(","):
        k, _, v = part.partition("=")
        fractions[k.strip()] = float(v)
    spark = _build_spark(args.master, args.shuffle_partitions)
    docs = spark.read.parquet(args.input)
    if args.pairs:
        pairs = spark.read.parquet(args.pairs)
        out = sampling.leakage_safe_split(
            docs, pairs, fractions, id_col=args.id_col, salt=args.salt)
    else:
        out = sampling.hash_split(docs, args.id_col, fractions, salt=args.salt)
    out.write.mode("overwrite").parquet(args.output)
    counts = spark.read.parquet(args.output).groupBy("split").count().collect()
    per = ", ".join(f"{r['split']}={r['count']}" for r in counts)
    print(f"split: {per} -> {args.output}"
          + (" [leakage-safe: clusters move together]" if args.pairs else ""))
    return 0


def cmd_spans(args: argparse.Namespace) -> int:
    """Global duplicate-span coverage report (exact-substring-dedup proxy),
    with stage-checkpoint resume — see dcspark/textops.py duplicate_span_stats."""
    from pyspark.sql import functions as F

    from . import pipeline_ckpt, textops

    spark = _build_spark(args.master, args.shuffle_partitions)
    docs = spark.read.parquet(args.input).select(
        F.col(args.id_col).alias("doc_id"), F.col(args.text_col).alias("text"))
    rep = textops.duplicate_span_stats(
        docs, n_tokens=args.window, min_count=args.min_count,
        checkpoint=args.checkpoint)
    rep.write.mode("overwrite").parquet(args.output)
    pipeline_ckpt.release_caches(rep)
    flagged = spark.read.parquet(args.output).filter(
        F.col("dup_token_frac") > args.threshold).count()
    print(f"spans: {flagged} documents over dup_token_frac {args.threshold} "
          f"-> {args.output}")
    return 0


def cmd_textquality(args: argparse.Namespace) -> int:
    """Row-local text-quality report (Gopher repetition + C4 cleaning +
    token stats) in one corpus pass — see dcspark/textops.py
    text_quality_report."""
    from pyspark.sql import functions as F

    from . import textops

    spark = _build_spark(args.master, args.shuffle_partitions)
    docs = spark.read.parquet(args.input).select(
        F.col(args.id_col).alias("doc_id"), F.col(args.text_col).alias("text"))
    rep = textops.text_quality_report(docs)
    rep.write.mode("overwrite").parquet(args.output)
    n, flagged = spark.read.parquet(args.output).agg(
        F.count(F.lit(1)),
        F.count(F.when(F.col("flagged") | ~F.col("page_keep"), 1)),
    ).first()
    print(f"textquality: {n} documents, {flagged} flagged by repetition or "
          f"C4 page rules -> {args.output}")
    return 0


def cmd_decontam(args: argparse.Namespace) -> int:
    """Benchmark decontamination report (n-gram collision vs an eval set),
    with stage-checkpoint resume — see dcspark/decontam.py."""
    from pyspark.sql import functions as F

    from . import decontam as decontam_mod

    spark = _build_spark(args.master, args.shuffle_partitions)
    docs = spark.read.parquet(args.input).select(
        F.col(args.id_col).alias("doc_id"), F.col(args.text_col).alias("text"))
    ev = spark.read.parquet(args.eval).select(
        F.col(args.eval_col).alias("text"))
    rep = decontam_mod.contamination(docs, ev, n=args.ngram,
                                     checkpoint=args.checkpoint)
    rep.write.mode("overwrite").parquet(args.output)
    flagged = spark.read.parquet(args.output).filter(
        F.col("contamination") > args.threshold).count()
    print(f"decontam: {flagged} documents over threshold {args.threshold} "
          f"-> {args.output}")
    return 0


#: the audio/image/video actions whose operators run in stages
#: (dcspark/pipeline_ckpt.py) and so honour --checkpoint
STAGED_ACTIONS = ("neardup", "decontam")


def _refuse_unstaged_checkpoint(family: str, args: argparse.Namespace) -> bool:
    """True (after an error message) when --checkpoint was given to an
    action with no stages: the run would otherwise silently ignore it."""
    if args.checkpoint is None or args.action in STAGED_ACTIONS:
        return False
    print(f"{family} {args.action}: --checkpoint applies only to "
          + ", ".join(f"{family} {a}" for a in STAGED_ACTIONS),
          file=sys.stderr)
    return True


def cmd_audio(args: argparse.Namespace) -> int:
    """Audio corpus pipeline actions (dcspark/audioops.py): transcode to one
    codec/rate, energy-VAD segmentation, or training-window chunking."""
    from pyspark.sql import functions as F

    from . import audioops as aops

    if _refuse_unstaged_checkpoint("audio", args):
        return 2
    spark = _build_spark(args.master, args.shuffle_partitions)
    df = spark.read.parquet(args.input).select(
        F.col(args.id_col).alias("clip_id"), F.col(args.bytes_col).alias("bytes"))
    if args.action == "transcode":
        out = aops.audio_transcode(
            df, target_codec=args.codec, target_sr=args.sr,
            target_dbfs=args.dbfs, resampler=args.resampler)
        label = f"-> {args.codec}" + (f" @ {args.sr} Hz" if args.sr else "") + (
            f" normalized to {args.dbfs} dBFS" if args.dbfs is not None else "")
    elif args.action == "features":
        out = aops.audio_logmel(
            df, n_mels=args.n_mels, frame_ms=args.feat_frame_ms,
            hop_ms=args.feat_hop_ms, n_mfcc=args.n_mfcc)
        label = (f"{args.n_mfcc}-coeff MFCC" if args.n_mfcc
                 else f"{args.n_mels}-mel log energies")
    elif args.action == "augment":
        speeds = tuple(float(s) for s in args.speeds.split(","))
        out = aops.audio_augment(
            df, speeds=speeds, noise_snr_db=args.noise_snr,
            gain_jitter_db=args.gain_jitter, seed=args.seed)
        label = f"speeds {args.speeds}" + (
            f", noise @ {args.noise_snr} dB SNR" if args.noise_snr is not None else "")
    elif args.action == "census":
        out = aops.audio_census(df)
        label = "decoded codec/rate census"
    elif args.action == "segment":
        out = aops.audio_segments(
            df, frame_ms=args.frame_ms, energy_floor_dbfs=args.floor_dbfs,
            min_silence_ms=args.min_silence_ms, min_speech_ms=args.min_speech_ms)
        label = f"speech segments (floor {args.floor_dbfs} dBFS)"
    elif args.action == "trim":
        out = aops.audio_trim(
            df, frame_ms=args.frame_ms, energy_floor_dbfs=args.floor_dbfs,
            pad_ms=args.pad_ms, min_silence_ms=args.min_silence_ms,
            min_speech_ms=args.min_speech_ms)
        label = (f"dead air trimmed (floor {args.floor_dbfs} dBFS, "
                 f"pad {args.pad_ms} ms)")
    elif args.action == "fingerprint":
        from . import audiofp

        out = audiofp.audio_fingerprints(df)
        label = "band-occupancy acoustic fingerprints"
    elif args.action == "neardup":
        from . import audiofp

        out = audiofp.audio_near_dup(df, threshold=args.threshold,
                                     checkpoint=args.checkpoint)
        label = f"acoustic near-dup pairs (overlap >= {args.threshold})"
    elif args.action == "decontam":
        from . import audiofp

        if not args.eval:
            print("audio decontam requires --eval <benchmark parquet>")
            return 2
        ev = spark.read.parquet(args.eval).select(
            F.col(args.id_col).alias("clip_id"),
            F.col(args.bytes_col).alias("bytes"))
        out = audiofp.audio_contaminated_ids(
            df, ev, threshold=args.threshold, checkpoint=args.checkpoint)
        label = f"acoustically contaminated ids (overlap >= {args.threshold})"
    elif args.action == "embed":
        from . import audiosem

        out = audiosem.audio_embeddings(df, n_mels=args.n_mels)
        label = f"{2 * args.n_mels}-dim pooled log-mel embeddings"
    elif args.action == "semneardup":
        from . import audiosem

        out = audiosem.audio_semantic_near_dup(
            df, threshold=args.sem_threshold, n_mels=args.n_mels)
        label = f"semantic near-dup pairs (cosine >= {args.sem_threshold})"
    elif args.action == "semdecontam":
        from . import audiosem

        if not args.eval:
            print("audio semdecontam requires --eval <benchmark parquet>")
            return 2
        ev = spark.read.parquet(args.eval).select(
            F.col(args.id_col).alias("clip_id"),
            F.col(args.bytes_col).alias("bytes"))
        out = audiosem.audio_semantic_contaminated_ids(
            df, ev, threshold=args.sem_threshold, n_mels=args.n_mels)
        label = f"semantically contaminated ids (cosine >= {args.sem_threshold})"
    else:  # chunk
        out = aops.audio_chunks(
            df, win_ms=args.win_ms, hop_ms=args.hop_ms,
            emit_bytes=not args.no_bytes, codec=args.codec)
        label = f"{args.win_ms} ms windows / {args.hop_ms} ms hop"
    return _write_and_report(spark, out, "audio", args.action, label,
                             args.output)


def _write_and_report(spark, out, family: str, action: str, label: str,
                      output: str) -> int:
    """Shared epilogue for the corpus-action commands (audio/image/video):
    write, re-read, row count, decode-error count when the output carries
    one (no misleading '0 decode errors' on frames that don't)."""
    from pyspark.sql import functions as F

    out.write.mode("overwrite").parquet(output)
    written = spark.read.parquet(output)
    n = written.count()
    if "decode_error" in written.columns:
        errs = written.filter(F.col("decode_error").isNotNull()).count()
        err_txt = f" ({errs} decode errors)"
    elif "decode_errors" in written.columns:  # census: pre-aggregated counts
        errs = written.agg(F.sum("decode_errors")).collect()[0][0] or 0
        err_txt = f" ({errs} decode errors)"
    else:
        err_txt = ""
    print(f"{family} {action}: {n} rows{err_txt} {label} -> {output}")
    return 0


def cmd_image(args: argparse.Namespace) -> int:
    """Image corpus actions (dcspark/multimodal.py + imagefp.py): transcode
    to one container format, resize to a fixed raster, decode metadata,
    dHash fingerprints, or perceptual near-dup pairs."""
    from pyspark.sql import functions as F

    from . import imagefp, multimodal

    if _refuse_unstaged_checkpoint("image", args):
        return 2
    spark = _build_spark(args.master, args.shuffle_partitions)
    df = spark.read.parquet(args.input).select(
        F.col(args.id_col).alias("id"), F.col(args.bytes_col).alias("bytes"))
    if args.action == "transcode":
        out = multimodal.image_transcode(
            df, target_format=args.format, quality=args.quality)
        label = f"-> {args.format}" + (
            f" q{args.quality}" if args.format == "jpeg" else "")
    elif args.action == "resize":
        h, w = (int(x) for x in args.size.split("x"))
        out = multimodal.image_resize(df, target=(h, w))
        label = f"-> {h}x{w} raw rasters"
    elif args.action == "metadata":
        out = multimodal.image_metadata(df)
        label = "decoded dims/luma metadata"
    elif args.action == "fingerprint":
        out = imagefp.image_fingerprints(df)
        label = "dHash fingerprints"
    elif args.action == "decontam":
        if not args.eval:
            print("image decontam requires --eval <benchmark parquet>")
            return 2
        ev = spark.read.parquet(args.eval).select(
            F.col(args.id_col).alias("id"),
            F.col(args.bytes_col).alias("bytes"))
        out = imagefp.image_contaminated_ids(
            df, ev, max_hamming=args.max_hamming, checkpoint=args.checkpoint)
        label = f"visually contaminated ids (Hamming <= {args.max_hamming})"
    else:  # neardup
        out = imagefp.image_near_dup(
            df, max_hamming=args.max_hamming, max_bucket=args.max_bucket,
            checkpoint=args.checkpoint)
        label = f"near-dup pairs (Hamming <= {args.max_hamming})"
    return _write_and_report(spark, out, "image", args.action, label,
                             args.output)


def cmd_video(args: argparse.Namespace) -> int:
    """Video corpus actions: stream-header metadata or frame sampling over
    real MJPEG AVI payloads (dcspark/avi.py)."""
    from pyspark.sql import functions as F

    from . import multimodal

    if _refuse_unstaged_checkpoint("video", args):
        return 2
    spark = _build_spark(args.master, args.shuffle_partitions)
    df = spark.read.parquet(args.input).select(
        F.col(args.id_col).alias("id"), F.col(args.bytes_col).alias("bytes"))
    if args.action == "metadata":
        out = multimodal.video_metadata(df)
        label = "fps/frame-count/dims metadata"
    elif args.action == "fingerprint":
        from . import imagefp

        out = imagefp.video_fingerprints(df, every_n=args.every_n)
        label = "frame dHash fingerprints"
    elif args.action == "neardup":
        from . import imagefp

        out = imagefp.video_near_dup(df, threshold=args.threshold,
                                     checkpoint=args.checkpoint)
        label = f"near-dup pairs (frame-hash overlap >= {args.threshold})"
    elif args.action == "decontam":
        from . import imagefp

        if not args.eval:
            print("video decontam requires --eval <benchmark parquet>")
            return 2
        ev = spark.read.parquet(args.eval).select(
            F.col(args.id_col).alias("id"),
            F.col(args.bytes_col).alias("bytes"))
        out = imagefp.video_contaminated_ids(
            df, ev, threshold=args.threshold, checkpoint=args.checkpoint)
        label = f"visually contaminated ids (overlap >= {args.threshold})"
    else:  # frames
        out = multimodal.video_frame_sample(
            df, every_n=args.every_n, max_frames=args.max_frames)
        label = f"every {args.every_n}th frame (max {args.max_frames})"
    return _write_and_report(spark, out, "video", args.action, label,
                             args.output)


def cmd_wer(args: argparse.Namespace) -> int:
    """Corpus WER/CER: hypothesis transcripts vs a reference table — per-row
    S/I/D report parquet plus the pooled corpus rate on stdout."""
    from pyspark.sql import functions as F

    from . import wer as wer_mod

    spark = _build_spark(args.master, args.shuffle_partitions)
    hyp = spark.read.parquet(args.input).select(
        F.col(args.id_col).alias("id"), F.col(args.hyp_col).alias("hyp"))
    ref = spark.read.parquet(args.ref).select(
        F.col(args.ref_id_col).alias("id"), F.col(args.ref_col).alias("ref"))
    # anchor on the REFERENCE set (sclite semantics): a reference with no
    # hypothesis scores as all deletions via the null-hyp path, instead of
    # silently vanishing from the corpus rate
    rep = wer_mod.error_report(ref.join(hyp, "id", "left"),
                               char_level=args.char_level)
    rep.write.mode("overwrite").parquet(args.output)
    orphan_hyp = hyp.join(ref, "id", "left_anti").count()
    if orphan_hyp:
        print(f"warning: {orphan_hyp} hypothesis rows have no reference "
              f"(excluded from the rate)")
    agg = wer_mod.corpus_error_rate(
        spark.read.parquet(args.output)).collect()[0]
    unit = "CER" if args.char_level else "WER"
    if not agg["rows"] or not agg["ref_tokens"]:
        print(f"{unit}: undefined — {agg['rows'] or 0} scored rows, "
              f"{agg['ref_tokens'] or 0} reference tokens -> {args.output}")
        return 1
    print(f"{unit}: {agg['error_rate']:.4f} "
          f"({agg['edits']} edits / {agg['ref_tokens']} ref tokens; "
          f"S={agg['substitutions']} I={agg['insertions']} D={agg['deletions']}"
          f" over {agg['rows']} rows) -> {args.output}")
    return 0


def cmd_reconcile(args: argparse.Namespace) -> int:
    """Bucketed row-hash diff of two tables (dcspark/reconcile.py): two
    single-scan summary passes, then a key-level drill over only the
    differing buckets. Exit 0 iff the tables reconcile exactly."""
    # "from . import reconcile" would resolve to the FUNCTION re-exported in
    # __init__, which shadows the submodule attribute of the same name
    from .reconcile import reconcile as _reconcile

    spark = _build_spark(args.master, args.shuffle_partitions)
    left = spark.read.parquet(args.left)
    right = spark.read.parquet(args.right)
    keys = [k.strip() for k in args.keys.split(",") if k.strip()]
    cols = ([c.strip() for c in args.compare_cols.split(",") if c.strip()]
            if args.compare_cols else None)
    r = _reconcile(left, right, keys, compare_cols=cols,
                   buckets=args.buckets)
    print(f"reconcile: left={r.rows_left} rows, right={r.rows_right} rows, "
          f"{r.buckets_differing}/{r.buckets_total} buckets differ")
    if r.dup_keys_left or r.dup_keys_right:
        print(f"warning: ~{r.dup_keys_left} duplicate-key rows left / "
              f"~{r.dup_keys_right} right (HLL estimate) — row-level "
              "attribution is per-key, dedup or refine --keys to trust it")
    if r.identical:
        print("reconcile: tables are identical")
        return 0
    for status, n in sorted(r.counts.items()):
        print(f"  {status}: {n}")
    if args.output:
        r.diff.write.mode("overwrite").parquet(args.output)
        print(f"reconcile: diff rows -> {args.output}")
    else:
        for row in r.diff.limit(args.sample).collect():
            key = ", ".join(f"{k}={row[k]}" for k in keys)
            extra = (f" [{','.join(row['changed_cols'])}]"
                     if row["changed_cols"] else "")
            print(f"  {row['status']}: {key}{extra}")
    r.unpersist()
    return 1


def cmd_mask(args: argparse.Namespace) -> int:
    """Write PII-masked copies of each model's table per the contract's
    pii/classification declarations — see dcspark/mask.py."""
    from . import mask as mask_mod
    from .io import load_tables
    from .spec import DataContractSpecification

    spec = DataContractSpecification.from_file(args.contract)
    spark = _build_spark(args.master, args.shuffle_partitions)
    tables = load_tables(spark, spec, server_name=args.server, base_path=args.path)
    models = [args.model] if args.model else list(tables)
    salt = args.salt
    if salt is None:
        import secrets

        salt = secrets.token_hex(16)
        print(f"mask: no --salt given; generated salt {salt} "
              "(keep it to reproduce the same pseudonyms)")
    for model_name in models:
        plan = mask_mod.masking_plan(spec, model_name)
        out = f"{args.output}/{model_name}"
        mask_mod.mask(tables[model_name], spec, model_name, salt=salt) \
            .write.mode("overwrite").parquet(out)
        print(f"mask: {model_name} ({len(plan)} sensitive fields: "
              f"{', '.join(f'{f}:{s}' for f, s in plan) or 'none'}) -> {out}")
    return 0


def cmd_repair(args: argparse.Namespace) -> int:
    """Write repaired copies of each model's table (clamp/truncate/null per
    contract constraints) — see dcspark/repair.py."""
    from . import repair as repair_mod
    from .io import load_tables
    from .spec import DataContractSpecification

    spec = DataContractSpecification.from_file(args.contract)
    spark = _build_spark(args.master, args.shuffle_partitions)
    tables = load_tables(spark, spec, server_name=args.server, base_path=args.path)
    models = [args.model] if args.model else list(tables)
    for model_name in models:
        # the static plan costs no scan; use `repair_report` from the library
        # when per-field counts are worth a dedicated aggregate pass
        fields = repair_mod.repaired_fields(spec, model_name)
        out = f"{args.output}/{model_name}"
        repair_mod.repair(tables[model_name], spec, model_name) \
            .write.mode("overwrite").parquet(out)
        print(f"repair: {model_name} "
              f"(fields: {', '.join(fields) or 'none'}) -> {out}")
    return 0


def cmd_suggest(args: argparse.Namespace) -> int:
    """Draft a contract FROM data (two scans per model) — see
    dcspark/suggest.py."""
    from .io import load_tables
    from .spec import DataContractSpecification
    from .suggest import suggest_contract

    spark = _build_spark(args.master, args.shuffle_partitions)
    if args.contract:
        spec = DataContractSpecification.from_file(args.contract)
        tables = load_tables(spark, spec, server_name=args.server,
                             base_path=args.path)
    else:
        # bare parquet dir(s): every <path>/<name>.parquet becomes a model
        import glob as globmod
        import os as osmod

        tables = {
            osmod.path.basename(p)[:-len(".parquet")]: spark.read.parquet(p)
            for p in sorted(globmod.glob(f"{args.path}/*.parquet"))
        }
        if not tables:
            print(f"suggest: no *.parquet under {args.path}")
            return 2
    text = suggest_contract(tables, contract_id=args.id)
    if args.output:
        with open(args.output, "w", encoding="utf-8") as f:
            f.write(text)
        print(f"suggest: wrote draft contract -> {args.output}")
    else:
        print(text)
    return 0


def cmd_lint(args: argparse.Namespace) -> int:
    from .lint import lint
    from .output import format_console
    from .run_model import ResultEnum
    from .spec import DataContractSpecification

    spec = DataContractSpecification.from_file(args.contract)
    run = lint(spec)
    print(format_console(run))
    return 1 if run.result == ResultEnum.error else 0


def cmd_export(args: argparse.Namespace) -> int:
    from .export import export
    from .spec import DataContractSpecification

    spec = DataContractSpecification.from_file(args.contract)
    out = export(spec, args.format, model=args.model,
                 server=getattr(args, "server", None),
                 template=getattr(args, "template", None))
    if args.output:
        with open(args.output, "w", encoding="utf-8") as f:
            f.write(out)
    else:
        print(out)
    return 0


def cmd_import(args: argparse.Namespace) -> int:
    import yaml

    from .imports import import_contract

    spec = import_contract(args.format, args.source, model_name=args.model)
    doc = spec.model_dump(exclude_none=True, exclude_defaults=True, by_alias=True)
    text = yaml.safe_dump(doc, sort_keys=False)
    if args.output:
        with open(args.output, "w", encoding="utf-8") as f:
            f.write(text)
    else:
        print(text)
    return 0


INIT_TEMPLATE = """\
dataContractSpecification: 1.1.0
id: my-data-contract
info:
  title: My Data Contract
  version: 0.0.1
  owner: my-team
  description: Describe the purpose of this data contract.
servers:
  prod:
    type: local
    format: parquet
    path: /data
models:
  my_table:
    type: table
    description: One row per business entity.
    fields:
      id:
        type: string
        required: true
        unique: true
        primaryKey: true
        description: Stable unique identifier.
      created_at:
        type: timestamp
        required: true
        description: Row creation time (UTC).
      value:
        type: double
        minimum: 0
        description: Non-negative measurement.
"""


def cmd_init(args: argparse.Namespace) -> int:
    """Write a starter contract (parity: reference cli.py:65-82 `init`)."""
    import os

    if os.path.exists(args.output) and not args.overwrite:
        print(f"{args.output} already exists (use --overwrite)")
        return 1
    with open(args.output, "w", encoding="utf-8") as f:
        f.write(INIT_TEMPLATE)
    print(f"wrote {args.output}")
    return 0


def cmd_api(args: argparse.Namespace) -> int:
    from .api import serve

    serve(port=args.port, host=args.host, api_key=args.api_key)
    return 0


def cmd_catalog(args: argparse.Namespace) -> int:
    """Generate a browsable markdown/HTML catalog for a directory of contracts
    (parity: reference cli.py:352-380 `datacontract catalog`)."""
    import glob
    import html
    import os

    from .export import to_markdown
    from .spec import DataContractSpecification

    os.makedirs(args.output, exist_ok=True)
    entries = []
    for path in sorted(glob.glob(os.path.join(args.files, "*.yaml")) +
                       glob.glob(os.path.join(args.files, "*.yml"))):
        try:
            spec = DataContractSpecification.from_file(path)
        except Exception as e:
            print(f"skip {path}: {e}")
            continue
        name = os.path.splitext(os.path.basename(path))[0]
        md = to_markdown(spec)
        with open(os.path.join(args.output, f"{name}.md"), "w", encoding="utf-8") as f:
            f.write(md)
        title = (spec.info.title if spec.info else None) or name
        version = (spec.info.version if spec.info else None) or ""
        models = ", ".join(spec.models)
        entries.append((name, title, version, models))
        print(f"catalog: {path} -> {name}.md")
    rows = "\n".join(
        f'<tr><td><a href="{html.escape(n)}.md">{html.escape(t)}</a></td>'
        f"<td>{html.escape(v)}</td><td>{html.escape(m)}</td></tr>"
        for n, t, v, m in entries
    )
    index = (
        "<!doctype html><meta charset='utf-8'><title>Data Contracts</title>"
        "<h1>Data Contracts</h1>"
        "<table border='1' cellpadding='6'><tr><th>contract</th><th>version</th>"
        f"<th>models</th></tr>{rows}</table>"
    )
    with open(os.path.join(args.output, "index.html"), "w", encoding="utf-8") as f:
        f.write(index)
    print(f"catalog: {len(entries)} contract(s) -> {args.output}/index.html")
    return 0


def cmd_breaking(args: argparse.Namespace, include_info: bool = False) -> int:
    from .breaking import breaking
    from .spec import DataContractSpecification

    old = DataContractSpecification.from_file(args.old)
    new = DataContractSpecification.from_file(args.new)
    changes = breaking(old, new, include_info=include_info)
    print(changes.summary())
    return 1 if changes.has_errors else 0


def main(argv: Optional[list] = None) -> int:
    p = argparse.ArgumentParser(prog="dcspark", description=__doc__)
    sub = p.add_subparsers(dest="command", required=True)

    t = sub.add_parser("test", help="run the contract's checks against data")
    t.add_argument("contract")
    t.add_argument("--server", default=None)
    t.add_argument("--path", default=None, help="override data path (dir of {model}.parquet)")
    t.add_argument("--master", default=None, help="e.g. local[8]; empty under spark-submit")
    t.add_argument("--shuffle-partitions", type=int, default=None)
    t.add_argument("--partition-col", default=None)
    t.add_argument("--checkpoint-dir", default=None)
    t.add_argument("--resume", action="store_true")
    t.add_argument("--junit", default=None, help="write JUnit XML here")
    t.add_argument("--results-path", default=None)
    t.add_argument("--violations-path", default=None)
    t.add_argument("--history-path", default=None,
                   help="metric-history source for `type: history` checks "
                        "(a results table from earlier runs; defaults to "
                        "--results-path so one flag closes the loop)")
    t.add_argument("--history-format", default="parquet",
                   choices=["parquet", "iceberg", "delta"])
    t.add_argument("--ref-stats", default=None,
                   help="dir of <model>.parquet drift snapshots (see `snapshot`)")
    t.add_argument("--publish", default=None,
                   help="POST run results to this endpoint (x-api-key from "
                        "DATAMESH_MANAGER_API_KEY / DATACONTRACT_MANAGER_API_KEY)")
    t.add_argument("--quarantine-path", default=None,
                   help="also write FULL quarantined rows (row-local rules + "
                        "references, comma-joined reasons) per model here")
    t.add_argument("--profile", default="certify", choices=["certify", "sweep"],
                   help="mode preset: certify (default) = every check exact "
                        "(anti-joins, key-shuffle uniqueness, GK quantiles); "
                        "sweep = the shuffle-light routine-sweep modes in one "
                        "flag (--unique-mode approx + --reference-mode approx "
                        "+ --pctl-mode sketch, each individually overridable; "
                        "approximations disclosed in the run log)")
    t.add_argument("--unique-mode", default=None, choices=["exact", "approx"],
                   help="exact: dedicated groupBy job certifies zero duplicates; "
                        "approx: HLL sketch in the shared scan (no key shuffle)")
    t.add_argument("--reference-mode", default=None,
                   choices=["exact", "approx"],
                   help="exact: anti-join child vs parent keys; approx: parent "
                        "Bloom bitset + map-only child probe (zero child-side "
                        "shuffle; reported orphans exact, a pass may miss "
                        "~fpp of true orphans — disclosed in the run log)")
    t.add_argument("--pctl-mode", default=None, choices=["exact", "sketch"],
                   help="exact: percentile_approx (GK) + a dedicated global pass "
                        "when partitioned; sketch: mergeable t-digests that "
                        "checkpoint with the manifest (resume never rescans)")
    t.add_argument("--where", default=None,
                   help="dataset filter: SQL boolean scoping EVERY check of "
                        "the target model to matching rows (e.g. the current "
                        "ingest partition); ANDed with the contract's "
                        "model-level filter. Use --model to name the target "
                        "in multi-model contracts")
    t.add_argument("--sample-fraction", type=float, default=None,
                   help="pre-flight mode: validate a deterministic keyed-hash "
                        "sample of each table (same rows every run per "
                        "--sample-seed). Violations found are real; a pass "
                        "bounds the violation rate instead of certifying it — "
                        "per-check reasons and diagnostics disclose the mode")
    t.add_argument("--sample-seed", type=int, default=0,
                   help="draw a different sample panel (default 0)")
    t.add_argument("--incremental-state", default=None,
                   help="JSON state file; validate ONLY rows appended to the "
                        "model's Iceberg table since the snapshot recorded "
                        "there (first run validates the whole table)")
    t.add_argument("--model", default=None,
                   help="target model for --where (required when the "
                        "contract has several models) and for "
                        "--incremental-state polling (default there: the "
                        "first payload model)")
    t.add_argument("--dry-run", action="store_true",
                   help="compile the contract and print the execution plan "
                        "(per-check inventory + which Spark job each check "
                        "rides) WITHOUT starting Spark or touching data")

    ice = sub.add_parser(
        "iceberg", help="Iceberg table maintenance (pure-Python format)")
    ice.add_argument("action", choices=["snapshots", "files", "stats",
                                        "expire", "compact", "refs", "tag",
                                        "branch", "publish", "orphans",
                                        "verify"])
    ice.add_argument("--name", default=None,
                     help="tag/branch/publish: the ref name")
    ice.add_argument("--older-than-ms", type=int, default=None,
                     help="orphans: only files with mtime before this "
                          "epoch-ms cutoff (protects in-flight writers)")
    ice.add_argument("--dry-run", action="store_true",
                     help="orphans: report without deleting")
    ice.add_argument("--table", required=True, help="table root directory")
    ice.add_argument("--keep-last", type=int, default=2,
                     help="expire: retain this many newest snapshots")
    ice.add_argument("--target-file-mb", type=int, default=128,
                     help="compact: bin-pack output file size")
    ice.add_argument("--cluster-by", default=None,
                     help="compact: comma-separated columns to Z-ORDER the "
                          "rewrite by (rewrites all in-scope files; stats "
                          "prune on every listed column afterwards)")
    ice.add_argument("--master", default=None)
    ice.add_argument("--shuffle-partitions", type=int, default=None)
    ice.add_argument("--snapshot-id", type=int, default=None,
                     help="files/stats: scope to a specific snapshot")
    ice.add_argument("--where", default=None,
                     help="files: prune via manifest column stats, e.g. "
                          "\"dur_ms >= 200 AND clip_id < 'clip_01'\"")
    ice.add_argument("--from-snapshot", type=int, default=None,
                     help="verify: baseline snapshot (default: parent of "
                          "--snapshot-id / current)")
    ice.add_argument("--keys", default=None,
                     help="verify: comma-separated key columns for per-key "
                          "drift attribution (default: keyless multiset proof)")

    dl = sub.add_parser(
        "delta", help="Delta table maintenance (pure-Python protocol)")
    dl.add_argument("action", choices=["versions", "files", "checkpoint",
                                       "clean"])
    dl.add_argument("--table", required=True, help="table root directory")

    wp = sub.add_parser(
        "wap", help="write-audit-publish a batch into an Iceberg table "
                    "(contract run gates the publish)")
    wp.add_argument("contract")
    wp.add_argument("--table", required=True, help="Iceberg table root")
    wp.add_argument("--input", required=True, help="batch parquet path")
    wp.add_argument("--model", default=None,
                    help="contract model the batch lands as (default: first)")
    wp.add_argument("--branch", default="audit")
    wp.add_argument("--quarantine", default=None,
                    help="append rejected batches to this parquet path")
    wp.add_argument("--on-fail", default="quarantine",
                    choices=["quarantine", "salvage"],
                    help="salvage: quarantine only row-rule violators and "
                         "re-gate the clean remainder")
    wp.add_argument("--static-path", default=None,
                    help="dir of {model}.parquet for the contract's other "
                         "models (e.g. the referential-integrity parent)")
    wp.add_argument("--ref-stats", default=None,
                    help="drift reference snapshot dir (see snapshot)")
    wp.add_argument("--master", default=None)
    wp.add_argument("--shuffle-partitions", type=int, default=None)

    pr = sub.add_parser("profile", help="one-scan column statistics per model")
    pr.add_argument("contract")
    pr.add_argument("--server", default=None)
    pr.add_argument("--path", default=None)
    pr.add_argument("--master", default=None)
    pr.add_argument("--shuffle-partitions", type=int, default=None)
    pr.add_argument("--output", default=None, help="write stats parquet here")

    fl = sub.add_parser(
        "filter", help="split tables into valid rows + quarantine (one scan)")
    fl.add_argument("contract")
    fl.add_argument("--server", default=None)
    fl.add_argument("--path", default=None)
    fl.add_argument("--model", default=None, help="filter only this model")
    fl.add_argument("--master", default=None)
    fl.add_argument("--shuffle-partitions", type=int, default=None)
    fl.add_argument("--output", required=True,
                    help="base dir; writes <out>/<model>/__valid=true|false")

    dd = sub.add_parser(
        "dedup", help="MinHash-LSH near-dup pairs (stage-checkpoint resumable)")
    dd.add_argument("--input", required=True, help="documents parquet path")
    dd.add_argument("--output", required=True, help="pairs parquet path")
    dd.add_argument("--id-col", default="doc_id")
    dd.add_argument("--text-col", default="text")
    dd.add_argument("--threshold", type=float, default=0.5)
    dd.add_argument("--ngram", type=int, default=3, help="shingle width")
    dd.add_argument("--max-bucket", type=int, default=1000,
                    help="hot-bucket guard for LSH band joins")
    dd.add_argument("--checkpoint", default=None,
                    help="stage-checkpoint dir; rerun resumes completed stages")
    dd.add_argument("--survivors", default=None,
                    help="also write a survivor-selection table here (clusters "
                         "from the pairs; best token count per cluster kept)")
    dd.add_argument("--master", default=None)
    dd.add_argument("--shuffle-partitions", type=int, default=None)

    lq = sub.add_parser(
        "lmscore",
        help="bigram-LM perplexity quality scores (CCNet-style)")
    lq.add_argument("--input", required=True, help="documents parquet path")
    lq.add_argument("--output", required=True, help="scores parquet path")
    lq.add_argument("--train", default=None,
                    help="reference-corpus parquet to train on (default: "
                         "the input itself — in-domain outlier mining)")
    lq.add_argument("--id-col", default="doc_id")
    lq.add_argument("--text-col", default="text")
    lq.add_argument("--k", type=float, default=0.1, help="add-k smoothing")
    lq.add_argument("--min-count", type=int, default=1,
                    help="prune bigrams rarer than this from the model")
    lq.add_argument("--buckets", type=int, default=0,
                    help="also assign equal-count perplexity buckets (1=best)")
    lq.add_argument("--bucket-by", default=None,
                    help="bucket within this column (e.g. lang)")
    lq.add_argument("--master", default=None)
    lq.add_argument("--shuffle-partitions", type=int, default=None)

    mx = sub.add_parser(
        "mixture",
        help="sample toward target domain shares under a token budget")
    mx.add_argument("--input", required=True, help="documents parquet path")
    mx.add_argument("--output", required=True, help="sampled parquet path")
    mx.add_argument("--targets", required=True,
                    help="comma list domain=weight, e.g. en=0.5,de=0.3,fr=0.2")
    mx.add_argument("--budget-tokens", type=float, default=None,
                    help="absolute output token budget")
    mx.add_argument("--budget-share", type=float, default=None,
                    help="budget as a share of the whole corpus's tokens")
    mx.add_argument("--domain-col", default="lang")
    mx.add_argument("--id-col", default="doc_id")
    mx.add_argument("--token-col", default="__derive__",
                    help="token-count column; default derives an alnum token "
                         "count from --text-col")
    mx.add_argument("--text-col", default="text")
    mx.add_argument("--salt", default="")
    mx.add_argument("--master", default=None)
    mx.add_argument("--shuffle-partitions", type=int, default=None)

    sl = sub.add_parser(
        "split",
        help="deterministic train/val/test assignment (leakage-safe with --pairs)")
    sl.add_argument("--input", required=True, help="documents parquet path")
    sl.add_argument("--output", required=True, help="assigned parquet path")
    sl.add_argument("--fractions", default="train=0.8,val=0.1,test=0.1",
                    help="comma list split=fraction (last absorbs remainder)")
    sl.add_argument("--pairs", default=None,
                    help="near-dup pairs parquet (doc_a, doc_b): clusters "
                         "then move through the split as a unit")
    sl.add_argument("--id-col", default="doc_id")
    sl.add_argument("--salt", default="")
    sl.add_argument("--master", default=None)
    sl.add_argument("--shuffle-partitions", type=int, default=None)

    dc = sub.add_parser(
        "decontam", help="n-gram benchmark-contamination report (resumable)")
    dc.add_argument("--input", required=True, help="corpus parquet path")
    dc.add_argument("--eval", required=True, help="benchmark/eval parquet path")
    dc.add_argument("--output", required=True, help="report parquet path")
    dc.add_argument("--id-col", default="doc_id")
    dc.add_argument("--text-col", default="text")
    dc.add_argument("--eval-col", default="text")
    dc.add_argument("--ngram", type=int, default=8)
    dc.add_argument("--threshold", type=float, default=0.0,
                    help="flag documents with contamination > this")
    dc.add_argument("--checkpoint", default=None,
                    help="stage-checkpoint dir; rerun resumes completed stages")
    dc.add_argument("--master", default=None)
    dc.add_argument("--shuffle-partitions", type=int, default=None)

    sp = sub.add_parser(
        "spans", help="global duplicate-span coverage report (resumable)")
    sp.add_argument("--input", required=True, help="documents parquet path")
    sp.add_argument("--output", required=True, help="report parquet path")
    sp.add_argument("--id-col", default="doc_id")
    sp.add_argument("--text-col", default="text")
    sp.add_argument("--window", type=int, default=50,
                    help="span width in tokens (Lee et al. use 50)")
    sp.add_argument("--min-count", type=int, default=2,
                    help="a span is duplicated at >= this many occurrences")
    sp.add_argument("--threshold", type=float, default=0.0,
                    help="report documents with dup_token_frac > this")
    sp.add_argument("--checkpoint", default=None,
                    help="stage-checkpoint dir; rerun resumes completed stages")
    sp.add_argument("--master", default=None)
    sp.add_argument("--shuffle-partitions", type=int, default=None)

    tq = sub.add_parser(
        "textquality",
        help="one-pass text-quality report (Gopher repetition + C4 + token stats)")
    tq.add_argument("--input", required=True, help="documents parquet path")
    tq.add_argument("--output", required=True, help="report parquet path")
    tq.add_argument("--id-col", default="doc_id")
    tq.add_argument("--text-col", default="text")
    tq.add_argument("--master", default=None)
    tq.add_argument("--shuffle-partitions", type=int, default=None)

    au = sub.add_parser(
        "audio", help="audio corpus actions: transcode | segment | chunk | "
                      "features | augment | census | fingerprint | neardup | "
                      "decontam | embed | semneardup | semdecontam")
    au.add_argument("action",
                    choices=["transcode", "segment", "trim", "chunk", "features", "augment", "census",
                             "fingerprint", "neardup", "decontam",
                             "embed", "semneardup", "semdecontam"])
    au.add_argument("--eval", default=None,
                    help="decontam/semdecontam: benchmark clips parquet")
    au.add_argument("--threshold", type=float, default=0.35,
                    help="neardup/decontam: fingerprint overlap score floor")
    au.add_argument("--sem-threshold", type=float, default=0.85,
                    help="semneardup/semdecontam: embedding cosine floor")
    au.add_argument("--checkpoint", default=None,
                    help="neardup/decontam: stage-checkpoint dir; rerun "
                         "resumes past the decode")
    au.add_argument("--input", required=True, help="clips parquet path")
    au.add_argument("--output", required=True, help="result parquet path")
    au.add_argument("--id-col", default="clip_id")
    au.add_argument("--bytes-col", default="bytes")
    au.add_argument("--codec", default="pcm_s16le",
                    help="transcode target codec (also chunk WAV wrapper)")
    au.add_argument("--sr", type=int, default=None,
                    help="transcode target sample rate (default: keep)")
    au.add_argument("--resampler", choices=["sinc", "linear"], default="sinc",
                    help="transcode: anti-aliased polyphase sinc or cheap linear")
    au.add_argument("--dbfs", type=float, default=None,
                    help="transcode: normalize RMS loudness to this dBFS")
    au.add_argument("--n-mels", type=int, default=40)
    au.add_argument("--n-mfcc", type=int, default=None,
                    help="features: emit MFCCs instead of log-mel energies")
    au.add_argument("--speeds", default="0.9,1.0,1.1",
                    help="augment: comma-separated speed factors")
    au.add_argument("--noise-snr", type=float, default=None,
                    help="augment: additive noise at this target SNR (dB)")
    au.add_argument("--gain-jitter", type=float, default=0.0,
                    help="augment: uniform gain jitter +-dB")
    au.add_argument("--seed", type=int, default=0,
                    help="augment: determinism seed")
    au.add_argument("--feat-frame-ms", type=float, default=25.0,
                    help="features: analysis frame length")
    au.add_argument("--feat-hop-ms", type=float, default=10.0,
                    help="features: analysis hop")
    au.add_argument("--frame-ms", type=float, default=30.0)
    au.add_argument("--floor-dbfs", type=float, default=-50.0,
                    help="segment: frames above this RMS are speech")
    au.add_argument("--min-silence-ms", type=float, default=300.0)
    au.add_argument("--min-speech-ms", type=float, default=100.0)
    au.add_argument("--pad-ms", type=float, default=100.0,
                    help="trim: silence kept around the speech span")
    au.add_argument("--win-ms", type=int, default=5000)
    au.add_argument("--hop-ms", type=int, default=2500)
    au.add_argument("--no-bytes", action="store_true",
                    help="chunk: emit bounds only, no WAV payloads")
    au.add_argument("--master", default=None)
    au.add_argument("--shuffle-partitions", type=int, default=None)

    im = sub.add_parser(
        "image", help="image corpus actions: transcode | resize | metadata | fingerprint | neardup | decontam")
    im.add_argument("action",
                    choices=["transcode", "resize", "metadata", "fingerprint",
                             "neardup", "decontam"])
    im.add_argument("--eval", default=None,
                    help="decontam: benchmark images parquet")
    im.add_argument("--input", required=True, help="images parquet path")
    im.add_argument("--output", required=True, help="result parquet path")
    im.add_argument("--id-col", default="id")
    im.add_argument("--bytes-col", default="bytes")
    im.add_argument("--format", default="jpeg",
                    choices=["jpeg", "png", "bmp", "ppm"],
                    help="transcode target container")
    im.add_argument("--quality", type=int, default=85,
                    help="transcode: jpeg quality")
    im.add_argument("--size", default="32x32",
                    help="resize target as HxW")
    im.add_argument("--max-hamming", type=int, default=3,
                    help="neardup: dHash Hamming radius (0..3)")
    im.add_argument("--max-bucket", type=int, default=1000,
                    help="neardup: per-block bucket cap")
    im.add_argument("--checkpoint", default=None,
                    help="neardup/decontam: stage-checkpoint dir; rerun "
                         "resumes past the decode")
    im.add_argument("--master", default=None)
    im.add_argument("--shuffle-partitions", type=int, default=None)

    vd = sub.add_parser(
        "video", help="video corpus actions: metadata | frames | fingerprint | neardup | decontam")
    vd.add_argument("action", choices=["metadata", "frames", "fingerprint",
                                       "neardup", "decontam"])
    vd.add_argument("--eval", default=None,
                    help="decontam: benchmark videos parquet")
    vd.add_argument("--threshold", type=float, default=0.6,
                    help="neardup/decontam: frame-hash overlap score floor")
    vd.add_argument("--input", required=True, help="videos parquet path")
    vd.add_argument("--output", required=True, help="result parquet path")
    vd.add_argument("--id-col", default="id")
    vd.add_argument("--bytes-col", default="bytes")
    vd.add_argument("--every-n", type=int, default=5,
                    help="frames: sample every n-th frame")
    vd.add_argument("--max-frames", type=int, default=8)
    vd.add_argument("--checkpoint", default=None,
                    help="neardup/decontam: stage-checkpoint dir; rerun "
                         "resumes past the decode")
    vd.add_argument("--master", default=None)
    vd.add_argument("--shuffle-partitions", type=int, default=None)

    wr = sub.add_parser("wer", help="corpus WER/CER vs a reference table")
    wr.add_argument("--input", required=True, help="hypothesis parquet path")
    wr.add_argument("--ref", required=True, help="reference parquet path")
    wr.add_argument("--output", required=True, help="per-row report parquet")
    wr.add_argument("--id-col", default="clip_id")
    wr.add_argument("--hyp-col", default="transcript")
    wr.add_argument("--ref-id-col", default="clip_id")
    wr.add_argument("--ref-col", default="text")
    wr.add_argument("--char-level", action="store_true",
                    help="character error rate instead of word error rate")
    wr.add_argument("--master", default=None)
    wr.add_argument("--shuffle-partitions", type=int, default=None)

    rc = sub.add_parser(
        "reconcile",
        help="bucketed row-hash diff of two tables (replication/migration "
             "check); exit 0 iff identical")
    rc.add_argument("--left", required=True, help="source-of-truth parquet")
    rc.add_argument("--right", required=True, help="candidate copy parquet")
    rc.add_argument("--keys", required=True, help="comma-separated key columns")
    rc.add_argument("--compare-cols", default=None,
                    help="comma-separated columns to compare "
                         "(default: all shared non-key columns)")
    rc.add_argument("--buckets", type=int, default=4096)
    rc.add_argument("--output", default=None,
                    help="write the full diff frame as parquet instead of "
                         "printing a sample")
    rc.add_argument("--sample", type=int, default=20,
                    help="diff rows to print when --output is not given")
    rc.add_argument("--master", default=None)
    rc.add_argument("--shuffle-partitions", type=int, default=None)

    mk = sub.add_parser(
        "mask", help="write PII-masked tables per contract pii/classification")
    mk.add_argument("contract")
    mk.add_argument("--server", default=None)
    mk.add_argument("--path", default=None)
    mk.add_argument("--model", default=None, help="mask only this model")
    mk.add_argument(
        "--salt", default=None,
        help="pseudonym namespace salt (random one generated and printed "
             "if omitted; '' gives linkable, dictionary-reversible hashes)")
    mk.add_argument("--master", default=None)
    mk.add_argument("--shuffle-partitions", type=int, default=None)
    mk.add_argument("--output", required=True, help="base dir; writes <out>/<model>")

    rp = sub.add_parser(
        "repair", help="write repaired tables (clamp/truncate/null per contract)")
    rp.add_argument("contract")
    rp.add_argument("--server", default=None)
    rp.add_argument("--path", default=None)
    rp.add_argument("--model", default=None, help="repair only this model")
    rp.add_argument("--master", default=None)
    rp.add_argument("--shuffle-partitions", type=int, default=None)
    rp.add_argument("--output", required=True, help="base dir; writes <out>/<model>")

    sg = sub.add_parser(
        "suggest", help="draft a contract FROM data (constraints that hold)")
    sg.add_argument("contract", nargs="?", default=None,
                    help="optional existing contract for server/model layout")
    sg.add_argument("--server", default=None)
    sg.add_argument("--path", default=None)
    sg.add_argument("--id", default="suggested", help="contract id for the draft")
    sg.add_argument("--master", default=None)
    sg.add_argument("--shuffle-partitions", type=int, default=None)
    sg.add_argument("--output", default=None, help="write the draft YAML here")

    sn = sub.add_parser("snapshot", help="build drift reference snapshots from data")
    sn.add_argument("contract")
    sn.add_argument("--server", default=None)
    sn.add_argument("--path", default=None)
    sn.add_argument("--master", default=None)
    sn.add_argument("--shuffle-partitions", type=int, default=None)
    sn.add_argument("--out", required=True, help="output dir for <model>.parquet snapshots")

    l = sub.add_parser("lint", help="static contract lint")
    l.add_argument("contract")

    e = sub.add_parser("export", help="export contract to another format")
    e.add_argument("contract")
    e.add_argument("--format", required=True,
                   choices=["spark", "spark-json", "jsonschema", "checks", "sodacl",
                            "iceberg", "sql", "sql-query", "avro", "protobuf",
                            "dbt", "dbt-sources", "dbt-staging-sql",
                            "great-expectations", "markdown", "odcs", "html",
                            "bigquery", "dbml", "sqlalchemy", "pydantic-model",
                            "terraform", "rdf", "go", "avro-idl", "data-caterer",
                            "dcs", "custom"])
    e.add_argument("--model", default=None)
    e.add_argument("--server", default=None)
    e.add_argument("--template", default=None, help="jinja2 template for --format custom")
    e.add_argument("--output", default=None)

    i = sub.add_parser("import", help="derive a contract from existing data")
    i.add_argument("--format", required=True,
                   choices=["parquet", "csv", "avro", "jsonschema", "iceberg", "odcs",
                            "bigquery", "unity", "glue", "sql", "dbt", "dbml",
                            "protobuf"])
    i.add_argument("source")
    i.add_argument("--model", default=None)
    i.add_argument("--output", default=None)

    ini = sub.add_parser("init", help="write a starter contract")
    ini.add_argument("--output", default="datacontract.yaml")
    ini.add_argument("--overwrite", action="store_true")

    a = sub.add_parser("api", help="serve POST /test /lint /export over HTTP")
    a.add_argument("--port", type=int, default=4242)
    a.add_argument("--host", default="127.0.0.1")
    a.add_argument("--api-key", default=None)

    cat = sub.add_parser("catalog", help="generate a markdown/HTML contract catalog")
    cat.add_argument("--files", default=".", help="directory of contract *.yaml files")
    cat.add_argument("--output", default="catalog", help="output directory")

    b = sub.add_parser("breaking", help="breaking changes between two contracts")
    b.add_argument("old")
    b.add_argument("new")

    c = sub.add_parser("changelog", help="all changes between two contracts")
    c.add_argument("old")
    c.add_argument("new")

    # parity: reference `diff` is a changelog alias (cli.py:432-452 "PLACEHOLDER.
    # Currently works as 'changelog' does.")
    d = sub.add_parser("diff", help="changes between two contracts (changelog alias)")
    d.add_argument("old")
    d.add_argument("new")

    args = p.parse_args(argv)
    if args.command == "test":
        return cmd_test(args)
    if args.command == "iceberg":
        return cmd_iceberg(args)
    if args.command == "wap":
        return cmd_wap(args)
    if args.command == "delta":
        return cmd_delta(args)
    if args.command == "snapshot":
        return cmd_snapshot(args)
    if args.command == "profile":
        return cmd_profile(args)
    if args.command == "filter":
        return cmd_filter(args)
    if args.command == "mask":
        return cmd_mask(args)
    if args.command == "reconcile":
        return cmd_reconcile(args)
    if args.command == "dedup":
        return cmd_dedup(args)
    if args.command == "lmscore":
        return cmd_lmscore(args)
    if args.command == "mixture":
        return cmd_mixture(args)
    if args.command == "split":
        return cmd_split(args)
    if args.command == "audio":
        return cmd_audio(args)
    if args.command == "image":
        return cmd_image(args)
    if args.command == "video":
        return cmd_video(args)
    if args.command == "wer":
        return cmd_wer(args)
    if args.command == "decontam":
        return cmd_decontam(args)
    if args.command == "spans":
        return cmd_spans(args)
    if args.command == "textquality":
        return cmd_textquality(args)
    if args.command == "suggest":
        return cmd_suggest(args)
    if args.command == "repair":
        return cmd_repair(args)
    if args.command == "init":
        return cmd_init(args)
    if args.command == "api":
        return cmd_api(args)
    if args.command == "catalog":
        return cmd_catalog(args)
    if args.command == "lint":
        return cmd_lint(args)
    if args.command == "export":
        return cmd_export(args)
    if args.command == "import":
        return cmd_import(args)
    if args.command == "breaking":
        return cmd_breaking(args)
    if args.command in ("changelog", "diff"):
        return cmd_breaking(args, include_info=True)
    return 2


if __name__ == "__main__":
    sys.exit(main())
