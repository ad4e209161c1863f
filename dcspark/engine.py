"""Validation executor: plans and runs all compiled checks with minimal passes.

``FAMILIES`` is the execution plan. Each entry is one check family: the
compiled kinds it serves, how its checks become Spark jobs, the Validator
method that computes them, its ``phase_timings`` label and the job that
``test --dry-run`` prints for it. ``plan_model`` turns one model's checks
into jobs from that table; the engine and the dry-run both call it, so the
printed plan is the executed one. Per model (scale rationale in SURVEY.md §4):

1. Driver-only: schema checks (field_is_present / field_type) against
   ``df.schema``; never trigger a scan (anti-goal parity with the reference).
2. The shared scan: ONE multi-aggregate scan computes every agg-kind metric
   at once: null-counts, invalid-counts (length/range/enum/regex/format/
   not-equal), row_count, freshness max / retention min timestamps. Catalyst
   fuses these into a single Exchange + partial (map-side) aggregate. The
   KS/PSI drift checks run beside it as one narrow bucket job
   (drift.drift_bucket_rows), and so do the audio decode pass (one Arrow
   ``mapInArrow`` scan) and the t-digest pass. With a partition column every
   job groups by one partition key (drift.partition_key, the ``PART_KEY``
   column), and ``_scan_partitions`` turns their output into one
   decomposable state per partition; ``_fold`` merges the states into the
   global results on the driver (sum/min/max, sketch and digest merges). A
   checkpointed run gets the same states from its resume manifest and
   from one ``_scan_partitions`` call per chunk of partitions.
3. One job per check, or per image payload column, for the families that
   genuinely need their own shuffle or decode: uniqueness (groupBy-key
   duplicate count — map-side partial aggregation bounds shuffle volume by
   the number of DISTINCT keys per partition, AQE handles skew), referential
   integrity (anti-join; broadcast hint when the parent is declared small),
   transcript equality, group thresholds, fingerprints, image and video
   decode, and scalar SQL quality queries. They run concurrently and record
   afterwards in table order.
4. After the model: metric-history checks judge this run's metrics.
5. A violations pass runs ONLY for checks that failed, evaluating all failed
   predicates in a single scan (array-of-structs -> filter -> explode) with a
   per-check row cap (default 500 — parity with the reference CLI's
   DATACONTRACT_MAX_ERRORS, datacontract/engines/fastjsonschema/
   check_jsonschema.py:55-63).
   Every check family's capped rows are collected to the driver; ``validate``
   turns them into the violations frame once (``rows_frame``).

All checks report results (no short-circuiting), matching the reference's
worst-result-wins fold (datacontract/model/run.py:65-75).
"""

from __future__ import annotations

import datetime as dt
import json
import math
import os
from dataclasses import dataclass, field as dc_field
from typing import Any, Callable, Dict, List, Optional, Tuple

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import audio as audio_mod
from . import drift as drift_mod
from . import tdigest as td_mod
from .compile import CompiledCheck, create_checks
from .run_model import Check, ResultEnum, Run
from .spec import DataContractSpecification, resolve_schema_field, to_spark_data_type

VIOLATION_CAP_DEFAULT = 500

VIOLATIONS_DDL = (
    "run_id string, partition_id string, check_key string, clip_id string, "
    "observed string, expected string"
)

RESULTS_DDL = (
    "run_id string, partition_id string, model string, field string, "
    "check_key string, check_type string, category string, engine string, "
    "result string, metric_value double, threshold string, reason string, "
    "row_count bigint, ts_start timestamp, ts_end timestamp"
)


def rows_frame(spark: SparkSession, rows: List[Any], ddl: str) -> DataFrame:
    """Driver-side rows as a DataFrame of schema ``ddl``: tuples in column
    order (``Row`` included) or dicts keyed by column name.

    The rows reach the JVM as one Arrow table, so the frame plans as a single
    ``LocalTableScan`` and reading or writing it starts no Python worker
    (``createDataFrame(list)`` plans a Python RDD, one worker task per
    slice). Timestamps mean what they mean to ``createDataFrame(list)``:
    aware values are instants, naive ones are local time."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    schema = StructType.fromDDL(ddl)
    arrow = to_arrow_schema(schema)
    if rows and isinstance(rows[0], dict):
        columns = [[r.get(name) for r in rows] for name in arrow.names]
    else:
        columns = [list(c) for c in zip(*rows)] or [[] for _ in arrow.names]
    arrays = []
    for values, f in zip(columns, arrow):
        if pa.types.is_timestamp(f.type):
            values = [v.astimezone() if v is not None and v.tzinfo is None else v
                      for v in values]
        arrays.append(pa.array(values, type=f.type))
    return spark.createDataFrame(pa.Table.from_arrays(arrays, schema=arrow),
                                 schema=schema)


@dataclass
class ValidationConfig:
    partition_col: Optional[str] = None
    violation_cap: int = VIOLATION_CAP_DEFAULT
    # model -> column -> ref snapshot (drift_mod.build_ref_stats output)
    ref_stats: Dict[str, Dict[str, dict]] = dc_field(default_factory=dict)
    # SNR oracle of the decode-conformance check (audio.synth_oracle,
    # audio.synth_snr_oracle); None skips the SNR invariant
    audio_snr_fn: Optional[audio_mod.SnrFn] = None
    now: Optional[dt.datetime] = None  # injectable clock for freshness/retention
    checkpoint_dir: Optional[str] = None
    resume: bool = False
    checkpoint_chunks: int = 4  # partition-groups per checkpointed scan
    server_format: Optional[str] = None
    arrow_batch_rows: int = 512  # audio bytes are large; keep Arrow batches bounded
    parallel_jobs: int = 8  # concurrent driver-side Spark job submissions
    # uniqueness strategy: "exact" runs the dedicated two-phase groupBy job
    # (certifiable zero-duplicates); "approx" folds an HLL sketch into the
    # SHARED multi-aggregate scan (north-star architecture: approx-distinct
    # via HyperLogLog) — no key shuffle at all, duplicates estimated as
    # nonnull_count - hll_estimate with a 3-sigma noise floor. At 10^12 rows
    # the exact path shuffles distinct keys; the approx path ships one
    # 2^lgk-bucket sketch per partition and unions them losslessly.
    unique_mode: str = "exact"
    unique_hll_lgk: int = 14  # 2^14 buckets: rsd ~0.8%, ~16 KB sketch/partition
    # referential-integrity strategy: "exact" anti-joins child vs parent keys
    # (broadcast when the parent fits, else sort-merge — the child table
    # shuffles); "approx" folds the parent keys into ONE Bloom bitset and
    # probes child membership MAP-ONLY (zero child-side shuffle at 10^12
    # rows). One-sided semantics, disclosed in the run log + diagnostics:
    # every reported orphan is real (no bloom false negatives), a pass may
    # miss each true orphan with probability ~fpp (~0.8% at 10 bits/key).
    # Falls back to exact when the bitset would exceed the broadcast budget.
    reference_mode: str = "exact"
    reference_bloom_max_bytes: int = 256 << 20  # 256 MB ~ 1.7e8 parent keys
    # percentile (pNN) strategy: "exact" uses percentile_approx (GK sketch)
    # in the shared scan + a dedicated global pass when partitioned (GK
    # results don't merge on the driver); "sketch" builds mergeable
    # t-digests (north-star: approx quantiles via t-digest) in one
    # column-pruned mapInArrow pass — per-partition digests merge to the
    # global quantile with NO extra scan and persist through the checkpoint
    # manifest as base64, so resumed runs never re-read completed partitions.
    pctl_mode: str = "exact"
    # metric-history source for ``type: history`` checks: a results table this
    # engine wrote (RESULTS_DDL schema). The per-key window prune runs
    # distributed; only checks x window floats reach the driver.
    history_path: Optional[str] = None
    history_format: str = "parquet"  # parquet | iceberg | delta
    # pre-flight sampled validation: run every data check on a DETERMINISTIC
    # keyed-hash sample (xxhash64 of the model's pk + seed, pure JVM — stable
    # under repartition, task retries, and across runs, so a violation found
    # once reproduces). The point at 10^12 rows: hunt violations and decode
    # payloads at fraction cost before paying for the certifying full run.
    # Semantics are explicit, not hidden: metrics are RAW sample counts
    # (never scaled up); every check's diagnostics carry sample_fraction;
    # found violations are REAL rows (a failure is definitive), while a pass
    # only bounds the violation rate (~3/sample_n at 95%, rule of three).
    # Checks whose meaning doesn't survive sampling keep honest behavior:
    # uniqueness/referential run on the sample (duplicate pairs survive with
    # prob ~fraction^2 — a found duplicate is real, absence proves little),
    # row_count/freshness see sample counts / sample max — all of which the
    # reason string discloses.
    sample_fraction: Optional[float] = None
    sample_seed: int = 0
    # ad-hoc dataset filters per model (CLI --where): ANDed with the model's
    # contract-declared `filter:` when both are present
    model_where: Dict[str, str] = dc_field(default_factory=dict)


@dataclass
class ValidationResult:
    run: Run
    results: List[dict]          # validation_results rows (FIXTURES.md §4)
    violations: Optional[DataFrame]
    metrics: Dict[str, Optional[float]]  # check key -> global metric value
    # model -> {job label -> wall seconds}. Jobs overlap (driver-side thread
    # pool), so labels sum to MORE than compute_phase_wall — each label is
    # that job's own start->end wall, the ops-facing "which check family is
    # the expensive one" answer at any scale
    phase_timings: Dict[str, Dict[str, float]] = dc_field(default_factory=dict)


# ---------------------------------------------------------------------------
# metric merge (makes every shared-scan metric decomposable across partitions)
# ---------------------------------------------------------------------------

def _merge_op(alias: str, kind: str) -> str:
    if kind == "freshness" or alias.endswith("__max") or alias.endswith("__max_ts"):
        return "max"
    if kind == "retention" or alias.endswith("__min") or alias.endswith("__min_ts"):
        return "min"
    if alias.endswith("__pctl"):
        # quantile sketches are not driver-mergeable: a single row (flat run)
        # passes through untouched, >=2 partition rows merge to None and the
        # global value comes from the dedicated pruned pass in _run_shared_scan
        return "global"
    return "sum"


def _merge_values(op: str, a: Any, b: Any) -> Any:
    if a is None:
        return b
    if b is None:
        return a
    if op == "sum":
        return a + b
    if op == "max":
        return max(a, b)
    return min(a, b)


def _merge_rows(rows: List[Dict[str, Any]], ops: Dict[str, str]) -> Dict[str, Any]:
    merged: Dict[str, Any] = {}
    for row in rows:
        for alias, op in ops.items():
            if op == "global":
                merged[alias] = row.get(alias)
                continue
            merged[alias] = _merge_values(op, merged.get(alias), row.get(alias))
    if len(rows) > 1:
        # "global" metrics (quantile sketches) are not driver-mergeable: a
        # single row (flat run / one partition) passes through exactly; with
        # >=2 partition rows the merged value is unknowable here and the
        # engine recomputes it in a dedicated column-pruned pass
        for alias, op in ops.items():
            if op == "global":
                merged[alias] = None
    return merged


# ---------------------------------------------------------------------------
# per-partition shared-scan state (fresh and checkpointed runs alike)
# ---------------------------------------------------------------------------

#: the column a partitioned model's frame carries: drift.partition_key of
#: the partition column, read by every per-partition consumer
PART_KEY = "__part_key"


@dataclass
class _ScanSpec:
    """What the shared scan computes (built by ``_run_shared_scan``)."""
    exprs: Dict[str, Column]  # main aggregate column per metric alias
    ops: Dict[str, str]       # merge op per metric alias (drift buckets too)
    drift_jobs: List[dict]
    audio_chk: Optional["CompiledCheck"]
    fp_checks: List["CompiledCheck"]  # fingerprints fused into the decode pass
    feat_bins: Dict[str, List[float]]
    feat_limits: List[Tuple[str, Optional[float], Optional[float]]]
    rate_text_col: Optional[str]
    pctl_cols: List[str]      # columns of the t-digest pass


@dataclass
class _PartState:
    """One partition's decomposable shared-scan state: what a checkpoint
    manifest record holds and what ``Validator._fold`` merges. Samples are
    (partition key, clip_id, observed), at most violation_cap each."""
    metrics: Dict[str, Any] = dc_field(default_factory=dict)  # aggregate row + drift buckets
    audio: Optional[Dict[str, Any]] = None  # decode-conformance sums
    audio_vio: List[Tuple[Optional[str], str, str]] = dc_field(default_factory=list)
    hists: Dict[str, Dict[int, int]] = dc_field(default_factory=dict)  # feature -> bin -> n
    quality: Dict[int, int] = dc_field(default_factory=dict)  # signal-quality rule -> n
    quality_vio: Dict[int, List[Tuple[Optional[str], str, str]]] = dc_field(
        default_factory=dict)
    digests: Dict[str, td_mod.TDigest] = dc_field(default_factory=dict)  # column -> digest
    audio_rank: int = 0  # position in the audio job's output, the record order

    def record(self) -> Dict[str, Any]:
        """The manifest record fields holding this state."""
        quality = {
            "counts": {str(li): c for li, c in self.quality.items()},
            "violations": {str(li): [[c, o] for _, c, o in vs]
                           for li, vs in self.quality_vio.items()},
        }
        return {
            "metrics_json": _metrics_to_json(self.metrics),
            "audio_metrics_json": (_metrics_to_json(self.audio)
                                   if self.audio is not None else None),
            "audio_violations": [[c, o] for _, c, o in self.audio_vio] or None,
            "audio_feature_hists": {
                f: {str(b): c for b, c in bins.items()}
                for f, bins in self.hists.items()} or None,
            "audio_quality": quality if self.quality or self.quality_vio else None,
            "pctl_digests": {c: d.to_b64() for c, d in self.digests.items()} or None,
        }

    @classmethod
    def from_record(cls, pid: str, rec: Dict[str, Any]) -> "_PartState":
        aq = rec.get("audio_quality") or {}
        return cls(
            metrics=_json_to_metrics(rec["metrics_json"]),
            audio=(_json_to_metrics(rec["audio_metrics_json"])
                   if rec.get("audio_metrics_json") else None),
            audio_vio=[(pid, c, o) for c, o in rec.get("audio_violations") or []],
            hists={f: {int(b): int(c) for b, c in bins.items()}
                   for f, bins in (rec.get("audio_feature_hists") or {}).items()},
            quality={int(li): int(c) for li, c in (aq.get("counts") or {}).items()},
            quality_vio={int(li): [(pid, c, o) for c, o in vs]
                         for li, vs in (aq.get("violations") or {}).items()},
            digests={c: td_mod.TDigest.from_b64(b)
                     for c, b in (rec.get("pctl_digests") or {}).items()},
        )


def _by_clip_id(sample: Tuple[Optional[str], Optional[str], str]) -> Tuple[bool, str]:
    """Sort key of a (partition, clip_id, observed) sample: clip_id
    ascending, NULL first (Spark's ascending order)."""
    return sample[1] is not None, sample[1] or ""


def _default_fs_is_local() -> bool:
    """True when the active session's Hadoop default filesystem is the local
    disk (fs.defaultFS file:/// — local mode). Unknown/no session -> False,
    so classification conservatively defers to the reader's error message."""
    try:
        spark = SparkSession.getActiveSession()
        if spark is None:
            return False
        fs = spark.sparkContext._jsc.hadoopConfiguration().get(
            "fs.defaultFS", "file:///")
        return (fs or "").startswith("file:")
    except Exception:  # noqa: BLE001 — any introspection failure: not conclusive
        return False


def _missing_table_error(path: str, exc: Exception) -> bool:
    """True when ``exc`` means the table at ``path`` simply does not exist
    yet (the expected first-ever-run bootstrap of a metric-history source),
    as opposed to a corrupt/unreadable table. Local schemeless paths are
    checked directly on disk; remote paths fall back to the reader's
    path-not-found error classes/messages."""
    scheme = path.split("://", 1)[0] if "://" in path else ""
    if scheme == "file":
        local = path.split("://", 1)[-1]
        # file:// is the one scheme where the driver's local disk IS the
        # table's filesystem by declaration, so local existence decides
        # both ways: present -> the failure is real, absent -> bootstrap
        return not os.path.exists(local)
    if scheme == "" and os.path.exists(path) and _default_fs_is_local():
        # schemeless path that EXISTS locally, under a local default FS
        # (local mode, the common case): the table is demonstrably there, so
        # the load failure is real — a corrupt history table must not be
        # classified as a first-run bootstrap. Existence is only ever used to
        # CONFIRM the table; under a REMOTE default FS (spark-submit with
        # HDFS/S3A) a coincidental local directory proves nothing, and local
        # ABSENCE is never conclusive for schemeless paths (the reader's own
        # PATH_NOT_FOUND is the bootstrap signal either way).
        return False
    if isinstance(exc, FileNotFoundError):
        return True
    msg = str(exc)
    return (
        "PATH_NOT_FOUND" in msg
        or "Path does not exist" in msg
        or "FileNotFoundException" in msg
    )


# ---------------------------------------------------------------------------
# check families: the execution plan, shared by the engine and `test --dry-run`
# (cli._test_dry_run), so the printed plan is the plan the engine runs
# ---------------------------------------------------------------------------

# how a family's checks become Spark jobs
DRIVER = "driver"                # on the driver, no job
SHARED_SCAN = "shared_scan"      # ride the model's one shared scan
PER_CHECK = "per_check"          # one job per check
PER_BYTES_COL = "per_bytes_col"  # one decode job per payload column
AFTER_MODEL = "after_model"      # after every other check of the model


@dataclass(eq=False)
class Family:
    """One check family. ``compute`` names the Validator method that runs
    its checks (called ``(model_name, df, check)``, or with the check list
    for DRIVER / SHARED_SCAN / PER_BYTES_COL / AFTER_MODEL); ``label`` is
    the ``phase_timings`` prefix of its jobs. ``plan`` maps a shape variant
    to the dry-run's (job, detail): the variant is "scan" for a check that
    ``to_scan`` moves into the shared scan, else ``variant(check, plan)``,
    else the check's kind; "" is the fallback. ``fail`` holds the
    zero-is-pass reason per kind (other kinds are judged by
    ``chk.eval_metric``); ``needs_columns`` checks error out without a job
    when a column they read is missing."""
    kinds: Tuple[str, ...]
    jobs: str
    compute: str
    label: str
    plan: Dict[str, Tuple[str, Optional[str]]]
    fail: Dict[str, str] = dc_field(default_factory=dict)
    needs_columns: bool = False
    to_scan: Optional[Callable[[List["CompiledCheck"], "ModelPlan"],
                               List["CompiledCheck"]]] = None
    variant: Optional[Callable[["CompiledCheck", "ModelPlan"], str]] = None


def plan_approx_unique(unique_checks: List["CompiledCheck"], unique_mode: str
                       ) -> List["CompiledCheck"]:
    """Which unique checks move into the shared scan as HLL sketches under
    ``--unique-mode approx``. Composite-key and row-filtered uniqueness keep
    the exact dedicated job: a composite PK is a certification, and a scoped
    check can't ride the unscoped shared scan's sketch."""
    if unique_mode != "approx":
        return []
    return [c for c in unique_checks
            if not c.params.get("key_cols") and not c.params.get("filter")]


def plan_fused_audio_fp(fp_checks: List["CompiledCheck"], *,
                        default_bytes_col: str,
                        audio_scan_will_run: bool,
                        partition_resume_active: bool
                        ) -> List["CompiledCheck"]:
    """Which audio-fingerprint checks ride the ONE fused decode pass. Only fp
    checks on the default payload column can (the shared scan decodes
    ``BYTES_COL``), only when another audio scan runs anyway, and never when
    the per-partition checkpoint-manifest path is active (near-dup pairs are
    global across partitions and don't fit the per-partition resume model)."""
    fusible = [c for c in fp_checks
               if c.params.get("bytes_col", default_bytes_col) == default_bytes_col]
    if fusible and audio_scan_will_run and not partition_resume_active:
        return fusible
    return []


def plan_audio_scan(checks: List["CompiledCheck"],
                    has_snapshot: Callable[["CompiledCheck"], bool]) -> bool:
    """Whether the shared scan runs the audio decode pass: a decode-conformance
    or signal-quality rule, or a loudness-drift rule whose reference snapshot
    exists (``has_snapshot``; a drift rule without one errors at no cost)."""
    return any(c.kind in ("audio", "audio_quality")
               or (c.kind == "audio_drift" and has_snapshot(c)) for c in checks)


_SCAN_JOB = "shared multi-aggregate scan"
_AUDIO_JOB = "fused audio decode pass"
_IMAGE_JOB = "fused image decode pass"
_FP_JOB = "dedicated fingerprint decode job"

FAMILIES: Tuple[Family, ...] = (
    Family(("schema_present", "schema_type"), DRIVER, "_run_schema_checks", "",
           {"": ("driver-only schema check (no scan)", None)}),
    Family(("agg", "freshness", "retention"), SHARED_SCAN, "_run_shared_scan",
           "shared_scan",
           {"agg": (_SCAN_JOB, "one pass for ALL agg checks"),
            "freshness": (_SCAN_JOB, "freshness rides the shared pass"),
            "retention": (_SCAN_JOB, "retention rides the shared pass")},
           needs_columns=True),
    Family(("drift",), SHARED_SCAN, "_run_shared_scan", "shared_scan",
           {"": ("binned aggregate vs --ref-stats snapshot", None)},
           needs_columns=True),
    Family(("audio", "audio_quality", "audio_drift"), SHARED_SCAN,
           "_run_shared_scan", "shared_scan",
           {"audio": (_AUDIO_JOB,
                      "ONE mapInArrow payload scan shared by every audio rule"),
            "audio_quality": (_AUDIO_JOB, "feature bounds ride it"),
            "audio_drift": (_AUDIO_JOB, "feature histograms ride it IF the "
                            "--ref-stats snapshot carries the feature"),
            "no_scan": ("skipped unless --ref-stats provides the feature "
                        "snapshot (then rides a fused decode pass)", None)},
           variant=lambda c, plan: c.kind if plan.audio_scan else "no_scan"),
    Family(("unique",), PER_CHECK, "_unique_compute", "unique",
           {"": ("dedicated exact-uniqueness job (two-phase salted groupBy)", None),
            "scan": (_SCAN_JOB, "HLL approx-distinct sketch — --unique-mode approx")},
           needs_columns=True,
           to_scan=lambda cs, plan: plan_approx_unique(cs, plan.unique_mode)),
    Family(("reference",), PER_CHECK, "_reference_compute", "reference",
           {"": ("anti-join vs the parent table (broadcast when it fits)", None),
            "approx": ("parent Bloom bitset + MAP-ONLY child membership probe "
                       "(--reference-mode approx; falls back to the exact "
                       "anti-join over the bitset budget)", None)},
           needs_columns=True, variant=lambda c, plan: plan.reference_mode),
    Family(("join_equality",), PER_CHECK, "_join_equality_compute", "join_eq",
           {"": ("key-join equality vs the reference table", None)}),
    Family(("group",), PER_CHECK, "_group_compute", "group",
           {"": ("dedicated groupBy job", None)},
           fail={"group": "{n} group(s) violate {p[threshold]}"},
           needs_columns=True),
    Family(("audio_fp",), PER_CHECK, "_audio_fp_compute", "audio_fp",
           {"scan": (_AUDIO_JOB, "fingerprints ride the same scan"),
            "resume": (f"{_FP_JOB} (checkpoint-resume active)", None),
            "bytes_col": (f"{_FP_JOB} (custom bytes_col)", None),
            "": (f"{_FP_JOB} (no co-running audio scan)", None)},
           fail={"audio_fp": "{n} near-duplicate clip pair(s)"},
           to_scan=lambda cs, plan: plan_fused_audio_fp(
               cs, default_bytes_col=audio_mod.BYTES_COL,
               audio_scan_will_run=plan.audio_scan,
               partition_resume_active=plan.resume_active),
           variant=lambda c, plan: (
               "resume" if plan.resume_active else "bytes_col"
               if c.params.get("bytes_col", audio_mod.BYTES_COL) != audio_mod.BYTES_COL
               else "")),
    Family(("image", "image_quality", "image_fp", "image_drift"), PER_BYTES_COL,
           "_image_family_compute", "image_decode",
           {"image": (_IMAGE_JOB, "one mapInArrow payload scan"),
            "image_quality": (_IMAGE_JOB, "feature bounds ride it"),
            "image_fp": (_IMAGE_JOB, "content-uniqueness rides it"),
            "image_drift": (_IMAGE_JOB, "feature histograms ride it")},
           fail={"image": "{n} image payload(s) failed decode or dimension conformance",
                 "image_quality": "{n} image(s) outside decoded-feature bounds",
                 "image_fp": "{n} near-duplicate image pair(s)"}),
    Family(("video",), PER_CHECK, "_video_compute", "video",
           {"": ("fused video decode pass (one mapInArrow payload scan)", None)},
           fail={"video": "{n} video payload(s) failed decode or "
                          "stream-header conformance"}),
    Family(("sql",), PER_CHECK, "_sql_compute", "sql", {"": ("user SQL job", None)}),
    Family(("history",), AFTER_MODEL, "_run_history_checks", "",
           {"": ("metric-history window read (results table)", None)}),
)

_FAMILY_OF = {kind: fam for fam in FAMILIES for kind in fam.kinds}


def family_groups(checks: List["CompiledCheck"]
                  ) -> List[Tuple[Family, List["CompiledCheck"]]]:
    """``checks`` by family in table order (check order kept within one);
    a kind without a family fails loudly instead of going unchecked."""
    unknown = sorted({c.kind for c in checks} - set(_FAMILY_OF))
    if unknown:
        raise ValueError(f"no check family runs kind(s) {unknown}")
    return [(fam, [c for c in checks if c.kind in fam.kinds]) for fam in FAMILIES]


@dataclass
class ModelPlan:
    """One model's checks as Spark jobs (``plan_model``)."""
    unique_mode: str = "exact"
    reference_mode: str = "exact"
    audio_scan: bool = False     # the shared scan runs the audio decode pass
    resume_active: bool = False  # the per-partition checkpoint manifest path
    scan: List["CompiledCheck"] = dc_field(default_factory=list)
    # (family, phase label, check — or the check list of a PER_BYTES_COL
    # job) in submission order
    jobs: List[Tuple[Family, str, Any]] = dc_field(default_factory=list)
    after: List[Tuple[Family, List["CompiledCheck"]]] = dc_field(default_factory=list)
    shapes: Dict[int, Tuple[str, Optional[str]]] = dc_field(default_factory=dict)

    @property
    def scan_label(self) -> str:
        return "shared_scan+fused_decode" if self.audio_scan else "shared_scan"

    def shape_of(self, chk: "CompiledCheck") -> Tuple[str, Optional[str]]:
        """The dry-run's (job, detail) for ``chk``."""
        return self.shapes[id(chk)]


def plan_model(groups: List[Tuple[Family, List["CompiledCheck"]]],
               **modes: Any) -> ModelPlan:
    """Place each family's checks (``family_groups``) into the model's jobs;
    ``modes`` are the ModelPlan switches (unique_mode, reference_mode,
    audio_scan, resume_active)."""
    plan = ModelPlan(**modes)
    for fam, checks in groups:
        moved = {id(c) for c in (fam.to_scan(checks, plan) if fam.to_scan else [])}
        rest = [c for c in checks if id(c) not in moved]
        plan.scan += [c for c in checks if id(c) in moved or fam.jobs == SHARED_SCAN]
        if fam.jobs == PER_CHECK:
            plan.jobs += [(fam, f"{fam.label}:{c.key}", c) for c in rest]
        elif fam.jobs == PER_BYTES_COL:
            by_col: Dict[str, List[CompiledCheck]] = {}
            for c in rest:
                by_col.setdefault(c.params["bytes_col"], []).append(c)
            plan.jobs += [(fam, f"{fam.label}:{col}", grp)
                          for col, grp in sorted(by_col.items())]
        elif fam.jobs == AFTER_MODEL and rest:
            plan.after.append((fam, rest))
        for c in checks:
            variant = ("scan" if id(c) in moved
                       else fam.variant(c, plan) if fam.variant else c.kind)
            plan.shapes[id(c)] = fam.plan.get(variant) or fam.plan[""]
    return plan


# ---------------------------------------------------------------------------
# engine
# ---------------------------------------------------------------------------

class Validator:
    def __init__(
        self,
        spark: SparkSession,
        spec: DataContractSpecification,
        tables: Dict[str, DataFrame],
        config: Optional[ValidationConfig] = None,
    ):
        self.spark = spark
        self.spec = spec
        self.tables = tables
        self.config = config or ValidationConfig()
        self.run = Run.create_run(
            data_contract_id=spec.id,
            data_contract_version=spec.info.version if spec.info else None,
        )
        # capped violation rows in VIOLATIONS_DDL column order; None until a
        # violation pass runs (a pass that finds no rows still yields a frame)
        self._violation_rows: Optional[List[tuple]] = None
        self._results_rows: List[dict] = []
        self._metrics: Dict[str, Optional[float]] = {}
        self._phase_timings: Dict[str, Dict[str, float]] = {}

    # -- public ------------------------------------------------------------

    def validate(self) -> ValidationResult:
        checks_by_model = create_checks(self.spec, self.config.server_format)
        # register temp views once so sql-quality checks can reference any model
        for name, df in self.tables.items():
            df.createOrReplaceTempView(name)

        # ONE scope on the calling thread around every model's jobs: the
        # conf is session-wide and read when an action plans, so a scope
        # per job on a worker thread closed before lazily built decode
        # passes ran, and its exit could unset the conf under a concurrent
        # job
        arrow_rows = {"spark.sql.execution.arrow.maxRecordsPerBatch":
                      str(self.config.arrow_batch_rows)}
        with _ConfScope(self.spark, arrow_rows):
            self._run_models(list(checks_by_model.items()))

        self.run.finish()
        violations = None
        if self._violation_rows is not None:
            violations = rows_frame(self.spark, self._violation_rows, VIOLATIONS_DDL)
        return ValidationResult(
            run=self.run,
            results=self._results_rows,
            violations=violations,
            metrics=self._metrics,
            phase_timings=self._phase_timings,
        )

    def _run_models(self, items: List[Tuple[str, List[CompiledCheck]]]) -> None:
        if self.config.parallel_jobs > 1 and len(items) > 1:
            # Models are independent — overlap their Spark jobs instead of
            # paying each model's wall sequentially (the small reference-table
            # model otherwise adds a serial tail after the big fact model).
            # Each model records into an isolated child (same runId), merged
            # back in model order so check ordering is identical to the
            # sequential path.
            import concurrent.futures as cf

            children = [self._child_recorder() for _ in items]
            workers = min(self.config.parallel_jobs, len(items))
            with cf.ThreadPoolExecutor(max_workers=workers) as ex:
                futures = [
                    ex.submit(child._run_model, name, checks, self.tables.get(name))
                    for child, (name, checks) in zip(children, items)
                ]
                for f in futures:
                    f.result()
            for child in children:
                self.run.checks.extend(child.run.checks)
                self.run.logs.extend(child.run.logs)
                if child._violation_rows is not None:
                    self._add_violations(child._violation_rows)
                self._results_rows.extend(child._results_rows)
                self._metrics.update(child._metrics)
                self._phase_timings.update(child._phase_timings)
        else:
            for model_name, checks in items:
                self._run_model(model_name, checks, self.tables.get(model_name))

    def _child_recorder(self) -> "Validator":
        """A clone sharing session/spec/tables/config but with isolated result
        collections and a same-runId Run — lets models record concurrently
        without interleaving check order."""
        child = object.__new__(Validator)
        child.spark = self.spark
        child.spec = self.spec
        child.tables = self.tables
        child.config = self.config
        child.run = self.run.model_copy(update={"checks": [], "logs": []})
        child._violation_rows = None
        child._results_rows = []
        child._metrics = {}
        child._phase_timings = {}
        return child

    def _add_violations(self, rows: List[tuple]) -> None:
        if self._violation_rows is None:
            self._violation_rows = []
        self._violation_rows.extend(rows)

    # -- per-model orchestration --------------------------------------------

    def _run_model(self, model_name: str, checks: List[CompiledCheck], df: Optional[DataFrame]) -> None:
        if df is None:
            for chk in checks:
                self._record(chk, None, ResultEnum.error, f"table {model_name} not provided", None)
            return

        # dataset filter (SodaCL table-filter analog): the contract's
        # model-level `filter:` and/or the CLI --where scope EVERY check of
        # this model; a Spark filter before anything else, so predicate
        # pushdown / partition pruning reach the source scan. row_count /
        # freshness / drift then describe the SLICE — which is the point.
        scopes = [s for s in (
            getattr(self.spec.models.get(model_name), "filter", None),
            self.config.model_where.get(model_name),
        ) if s]
        for s in scopes:
            df = df.filter(F.expr(s))
        if scopes:
            self.run.log_info(
                f"{model_name}: dataset filter(s) applied: "
                + " AND ".join(f"({s})" for s in scopes))

        if self.config.sample_fraction is not None:
            df = self._sample_frame(model_name, df)
        part_col = self._partition_col(df)
        if part_col:
            df = df.withColumn(PART_KEY, drift_mod.partition_key(part_col))

        groups = family_groups(checks)
        for fam, cs in groups:
            if fam.jobs == DRIVER:
                getattr(self, fam.compute)(model_name, df, cs)

        # checks on absent columns can't scan — report error, drop from data
        # path; dotted paths resolve through nested structs
        def runnable(chk: CompiledCheck) -> bool:
            req = chk.params.get("require_cols") or (
                [chk.field] if chk.field else [])
            for c in req:
                if resolve_schema_field(df.schema, c) is None:
                    self._record(chk, None, ResultEnum.error,
                                 f"column {c} missing", None)
                    return False
            flt = chk.params.get("filter")
            if flt:
                # eager analysis of the scope expression: a typo'd filter
                # column would otherwise raise AnalysisException inside the
                # SHARED scan and abort the whole run — the same isolation
                # the missing-column path above gives a check's own column
                try:
                    df.filter(F.expr(flt)).schema
                except Exception as e:  # noqa: BLE001 — analysis error class varies
                    self._record(chk, None, ResultEnum.error,
                                 f"invalid filter {flt!r}: "
                                 f"{str(e).splitlines()[0][:200]}", None)
                    return False
            return True

        groups = [(fam, [c for c in cs if not fam.needs_columns or runnable(c)])
                  for fam, cs in groups if fam.jobs != DRIVER]
        # The plan (shared with `test --dry-run`): approx uniqueness joins the
        # shared scan as an HLL sketch; content-uniqueness shares the ONE
        # audio decode pass whenever another audio scan runs anyway — a
        # second full decode of the payload corpus is the dominant avoidable
        # cost at scale (plan_approx_unique / plan_fused_audio_fp).
        snapshots = self.config.ref_stats.get(model_name, {})
        plan = plan_model(
            groups, unique_mode=self.config.unique_mode,
            reference_mode=self.config.reference_mode,
            audio_scan=plan_audio_scan(checks, lambda c: bool(
                snapshots.get(f"audio:{c.params['feature']}"))),
            resume_active=bool(self.config.checkpoint_dir and part_col))

        # Compute phase: independent Spark jobs submitted CONCURRENTLY from
        # driver threads (the scheduler overlaps them across free task slots),
        # collapsing ~10 sequential small-job walls into a few waves — the
        # dominant fixed cost at high core counts. Only the shared scan
        # records during this phase; every other job returns a result dict
        # that the main thread records afterwards in plan order, so check
        # ordering stays deterministic.
        thunks: List[Any] = [self._timed(
            model_name, plan.scan_label,
            lambda: self._run_shared_scan(model_name, df, plan.scan))]
        thunks += [self._timed(model_name, label, lambda f=fam, u=unit: getattr(
            self, f.compute)(model_name, df, u)) for fam, label, unit in plan.jobs]
        import time as _time
        t_phase = _time.perf_counter()
        results = self._parallel(thunks)
        ph = self._phase_timings.setdefault(model_name, {})
        ph["compute_phase_wall"] = round(_time.perf_counter() - t_phase, 3)
        self.run.log_info(
            f"{model_name} phase walls (s, concurrent jobs overlap): "
            + ", ".join(f"{k}={v}" for k, v in
                        sorted(ph.items(), key=lambda kv: -kv[1])))
        for (fam, _, unit), res in zip(plan.jobs, results[1:]):
            if fam.jobs == PER_BYTES_COL:
                # res maps check key -> result dict; record in compile order
                for c in unit:
                    self._record_result(c, res[c.key])
            else:
                self._record_result(unit, res)

        # after-model families (history) judge the metrics recorded above
        for fam, cs in plan.after:
            getattr(self, fam.compute)(model_name, df, cs)

    def _run_history_checks(
        self, model_name: str, df: DataFrame, checks: List[CompiledCheck]
    ) -> None:
        """Evaluate ``type: history`` checks: one distributed window-pruned
        read of the results table for ALL watched keys of this model, then a
        driver-side judgment per check on <= window floats. An absent history
        table (first-ever run) is an empty series, which the compiled
        evaluator reports as an insufficient-history pass, not an error.
        They run after every other check of the model recorded (the watched
        metrics must exist) and append at the end of its check order;
        watched keys must be this model's own (cross-model watches would
        race the parallel per-model recorders)."""
        from . import history as hist_mod

        if self.config.sample_fraction is not None:
            # a sampled run's metrics are raw sample counts — judging them
            # against a full-run series (or letting them join it) would make
            # every change/anomaly rule fire on the sampling itself
            for chk in checks:
                self._record(chk, None, ResultEnum.passed,
                             "skipped: sampled run (history judges and "
                             "feeds full-run metrics only)", None)
            return
        path = self.config.history_path
        series: Dict[str, List[float]] = {}
        load_err: Optional[str] = None
        if path:
            keys = sorted({c.params["watch_key"] for c in checks})
            max_w = max(int(c.params["window"]) for c in checks)
            try:
                frame = hist_mod.load_history(
                    self.spark, path, self.config.history_format)
                series = hist_mod.collect_series(
                    frame, model_name, keys, max_w, exclude_run_id=self.run.runId)
            except Exception as exc:
                # A MISSING table is the expected first-ever-run bootstrap
                # (this run's results write creates it) -> empty series,
                # insufficient-history pass. Anything else (corrupt files,
                # wrong --history-format, permission) must surface as an
                # ERROR: degrading it to the same silent pass would disarm
                # every change/anomaly tripwire on a config typo.
                if _missing_table_error(path, exc):
                    load_err = None
                else:
                    load_err = f"{type(exc).__name__}: {exc}"
        for chk in checks:
            wkey = chk.params["watch_key"]
            if not path:
                self._record(
                    chk, None, ResultEnum.error,
                    f"{chk.name}: no history source (set ValidationConfig."
                    "history_path / --history-path to this engine's results table)",
                    None)
                continue
            if load_err:
                self._record(
                    chk, None, ResultEnum.error,
                    f"{chk.name}: history table at {path} failed to load "
                    f"({load_err})", None)
                continue
            current = self._metrics.get(wkey)
            if current is None:
                self._record(
                    chk, None, ResultEnum.error,
                    f"{chk.name}: watched metric {wkey} was not computed in "
                    "this run (check the watch key)", None)
                continue
            vals = series.get(wkey, [])[-int(chk.params["window"]):]
            stat, diag = hist_mod.point_stats(
                vals, current, agg=chk.params["agg"], method=chk.params["method"])
            result, reason = chk.eval_metric(stat, diag)
            self._record(chk, stat, result, reason, None, diagnostics=diag)

    def _timed(self, model: str, label: str, fn):
        """Wrap a compute-phase thunk to record its own wall seconds under
        phase_timings[model][label] (threads overlap; dict writes are
        GIL-atomic and labels are unique per model)."""
        import time as _time

        def run():
            t0 = _time.perf_counter()
            try:
                return fn()
            finally:
                self._phase_timings.setdefault(model, {})[label] = round(
                    _time.perf_counter() - t0, 3)
        return run

    def _parallel(self, thunks: List[Any]) -> List[Any]:
        """Run thunks via a driver-side thread pool (Spark job submission is
        thread-safe); sequential when disabled or singleton."""
        if self.config.parallel_jobs <= 1 or len(thunks) <= 1:
            return [t() for t in thunks]
        import concurrent.futures as cf

        with cf.ThreadPoolExecutor(
            max_workers=min(self.config.parallel_jobs, len(thunks))
        ) as ex:
            futures = [ex.submit(t) for t in thunks]
            return [f.result() for f in futures]

    # -- schema checks (driver-side, no scan) --------------------------------

    def _run_schema_checks(self, model_name: str, df: DataFrame,
                           checks: List[CompiledCheck]) -> None:
        for chk in checks:
            resolved = resolve_schema_field(df.schema, chk.field)
            if chk.kind == "schema_present":
                ok = resolved is not None
                self._record(
                    chk, 0.0 if ok else 1.0,
                    ResultEnum.passed if ok else ResultEnum.failed,
                    None if ok else f"column {chk.field} missing in schema", None,
                )
            else:  # schema_type
                if resolved is None or "type_error" in chk.params:
                    self._record(chk, None, ResultEnum.error,
                                 chk.params.get("type_error", f"column {chk.field} missing"), None)
                    continue
                actual = resolved.dataType
                expected = chk.params["expected_spark_type"]
                ok = actual == expected
                self._record(
                    chk, 0.0 if ok else 1.0,
                    ResultEnum.passed if ok else ResultEnum.failed,
                    None if ok else f"type is {actual.simpleString()}, expected {expected.simpleString()}",
                    None,
                )

    # -- shared multi-aggregate scan (+ audio; + checkpoint/resume) ----------

    def _partition_col(self, df: DataFrame) -> Optional[str]:
        """The configured partition column when ``df`` has it, else None."""
        col = self.config.partition_col
        return col if col and col in df.columns else None

    def _shared_agg_specs(
        self, model_name: str, agg_checks: List[CompiledCheck], drift_checks: List[CompiledCheck]
    ) -> Tuple[Dict[str, Column], Dict[str, str], List[dict]]:
        """Shared-scan aggregate columns + merge ops + drift bucket-job specs.

        Drift checks add no aggregate columns: a 199-point grid as
        per-grid-point sums would push the aggregate past the
        whole-stage-codegen field limit. Each spec is one drift check of the
        table's bucket job (drift_mod.drift_bucket_rows), which runs beside
        the shared scan; its counts join each partition's metric row, and
        ``ops`` sums them like the scan's own.
        """
        exprs: Dict[str, Column] = {"__total_count": F.count(F.lit(1))}
        ops: Dict[str, str] = {"__total_count": "sum"}
        for chk in agg_checks:
            if chk.agg_alias and chk.agg_expr is not None and chk.agg_alias not in exprs:
                exprs[chk.agg_alias] = chk.agg_expr()
                ops[chk.agg_alias] = _merge_op(chk.agg_alias, chk.kind)
            for alias, expr_thunk in chk.extra_aggs.items():
                if alias not in exprs:
                    exprs[alias] = expr_thunk()
                    ops[alias] = _merge_op(alias, chk.kind)
        drift_jobs: List[dict] = []
        for chk in drift_checks:
            stats = self.config.ref_stats.get(model_name, {}).get(chk.params["column"])
            if stats is None:
                continue
            if "categories" in stats and chk.params["method"] != "psi":
                # KS needs an ordered domain; categorical snapshots are
                # frequency-only — surface a config error instead of a
                # meaningless statistic
                chk.params["_invalid"] = (
                    "categorical snapshot supports method psi only")
                continue
            prefix = f"__drift__{chk.key}"
            chk.params["_prefix"] = prefix
            chk.params["_stats"] = stats
            drift_jobs.append({
                "prefix": prefix, "column": chk.params["column"],
                "stats": stats, "method": chk.params["method"],
            })
            for alias in drift_mod.drift_aliases(prefix, stats, chk.params["method"]):
                ops[alias] = "sum"
        return exprs, ops, drift_jobs

    def _audio_compact(
        self, df: DataFrame, chk: Optional[CompiledCheck], partition_col: Optional[str],
        fp_fn=None, feat_bins=None, feat_limits=None, text_col=None,
    ) -> DataFrame:
        # partition col is threaded through the Arrow batch as __part (no
        # re-join); chk=None (feature-histograms-only scan) skips the SNR
        # oracle — header conformance counts still accumulate but go unread
        return audio_mod.audio_decode_compact(
            df,
            snr_floor_db=chk.params.get("snr_db", 30.0) if chk is not None else 30.0,
            snr_fn=self.config.audio_snr_fn if chk is not None else None,
            partition_col=partition_col,
            violation_cap=self.config.violation_cap if (chk is not None or feat_limits) else 0,
            fp_fn=fp_fn,
            feat_bins=feat_bins,
            feat_limits=feat_limits,
            text_col=text_col,
        )

    def _capped(self, rows: DataFrame, keys: List[str]) -> DataFrame:
        """The first ``violation_cap`` of ``rows`` by clip_id in each group
        of ``keys`` (overall when there are none): per-task caps in the
        compact frame can sum past the cap."""
        cap = self.config.violation_cap
        if not keys:
            return rows.orderBy("clip_id").limit(cap)
        w = Window.partitionBy(*keys).orderBy("clip_id")
        return rows.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") <= cap)

    def _audio_compact_collect(
        self, compact: DataFrame, keyed: bool,
    ) -> Tuple[List[Dict[str, Any]], List[Tuple[Optional[str], str, str]]]:
        """(per-partition count rows, capped violation triples) from ONE decode.

        The compact frame is tiny by construction (bounded by tasks x
        (parts_per_task + cap)); the caller persists it, so the first action
        runs the single decode scan and every later one reads the cache —
        never a second decode (VERDICT.md defect #1).
        """
        sums = [F.sum(c).alias(f"__audio__{c}") for c in audio_mod.COMPACT_COUNT_COLS]
        aggd = compact.filter(F.col("row_type") == "agg")
        if keyed:
            rows = [r.asDict() for r in aggd.groupBy("__part").agg(*sums).collect()]
        else:
            rows = [aggd.agg(*sums).first().asDict()]
            rows[0]["__part"] = None
        vio: List[Tuple[Optional[str], str, str]] = []
        if any(r.get("__audio__violations") for r in rows):
            vio = [
                (r["__part"], r["clip_id"], r["observed"])
                for r in self._capped(compact.filter(F.col("row_type") == "vio"),
                                      ["__part"] if keyed else [])
                .select("__part", "clip_id", "observed").collect()
            ]
        return rows, vio

    def _audio_quality_collect(
        self, compact: DataFrame, keyed: bool,
    ) -> Tuple[List[Tuple[Optional[str], int, int]],
               List[Tuple[Optional[str], int, str, str]]]:
        """((partition, rule, out-of-range count), capped (partition, rule,
        clip_id, observed)) from the compact frame's 'fq'/'fv' rows —
        signal-quality bounds evaluated in the same single decode pass as
        everything else. ``t`` is the rule index (position in the
        audio_quality_checks list), so several bounds on the same or
        different features stay separable. Samples are capped per rule (and
        partition)."""
        counts = [
            (r["__part"], int(r["t"]), int(r["c"]))
            for r in compact.filter(F.col("row_type") == "fq")
            .groupBy("__part", "t").agg(F.sum("hash").alias("c")).collect()
        ]
        samples: List[Tuple[Optional[str], int, str, str]] = []
        if any(c > 0 for _, _, c in counts):
            samples = [
                (r["__part"], int(r["t"]), r["clip_id"], r["observed"])
                for r in self._capped(compact.filter(F.col("row_type") == "fv"),
                                      ["__part", "t"] if keyed else ["t"])
                .select("__part", "t", "clip_id", "observed").collect()
            ]
        return counts, samples

    def _audio_hist_collect(
        self, compact: DataFrame, keyed: bool,
    ) -> List[Tuple[Optional[str], str, int, int]]:
        """(partition, feature, bin, count) from the compact frame's 'fh'
        rows — a groupBy over a frame bounded by tasks x features x bins,
        never the corpus."""
        keys = ["__part"] if keyed else []
        return [
            (r["__part"] if keyed else None, r["clip_id"], int(r["t"]), int(r["c"]))
            for r in compact.filter(F.col("row_type") == "fh")
            .groupBy(*keys, "clip_id", "t").agg(F.sum("hash").alias("c")).collect()
        ]

    _AUDIO_OPS = {f"__audio__{c}": "sum" for c in audio_mod.COMPACT_COUNT_COLS}

    @staticmethod
    def _reroute_bytes_aliases(
        agg_checks: List[CompiledCheck],
        exprs: Dict[str, Column],
        ops: Dict[str, str],
    ) -> List[str]:
        """Move the payload column's missing-count out of the JVM metric agg.

        The audio decode pass streams the bytes through Arrow anyway and counts
        nulls there (``bytes_null``). Evaluating the required-check in the JVM
        aggregate instead would materialize the whole binary column on-heap a
        second time — at ~60 KB per cell the vectorized reader's columnar
        batches become humongous G1 allocations and the scan stops scaling past
        a few cores. Only called when an audio check is present on the model.
        """
        rerouted: List[str] = []
        for chk in agg_checks:
            if (
                chk.check_type == "field_required"
                and chk.field == audio_mod.BYTES_COL
                and chk.agg_alias in exprs
                and not chk.extra_aggs
                # a SCOPED required-check must keep its filtered aggregate:
                # the audio pass counts nulls over ALL rows, so substituting
                # it would silently discard the check's filter
                and not chk.params.get("filter")
            ):
                del exprs[chk.agg_alias]
                ops.pop(chk.agg_alias, None)
                rerouted.append(chk.agg_alias)
        return rerouted

    @staticmethod
    def _hll_aliases(chk: CompiledCheck) -> Tuple[str, str]:
        return f"{chk.field}__nonnull_count", f"{chk.field}__hll_sketch"

    def _run_shared_scan(
        self, model_name: str, df: DataFrame, checks: List[CompiledCheck],
    ) -> None:
        """Every check the plan puts on the shared scan (``ModelPlan.scan``):
        the agg, drift and audio families plus approx uniqueness and fused
        fingerprints. Records them all, agg checks first."""
        def of(*kinds: str) -> List[CompiledCheck]:
            return [c for c in checks if c.kind in kinds]

        agg_checks = of("agg", "freshness", "retention")
        drift_checks = of("drift")
        audio_checks = of("audio")
        approx_unique = of("unique")
        audio_drift_checks = of("audio_drift")
        audio_quality_checks = of("audio_quality")
        exprs, ops, drift_jobs = self._shared_agg_specs(model_name, agg_checks, drift_checks)
        for chk in approx_unique:
            nn_alias, sk_alias = self._hll_aliases(chk)
            col = chk.field
            exprs[nn_alias] = F.coalesce(
                F.sum(F.when(F.col(col).isNotNull(), 1).otherwise(0)), F.lit(0))
            ops[nn_alias] = "sum"
            # the sketch merges by HLL union, not sum/min/max — evaluated by
            # _record_approx_unique after the scan, never by _merge_rows
            exprs[sk_alias] = F.hll_sketch_agg(F.col(col), F.lit(self.config.unique_hll_lgk))
        part_col = self._partition_col(df)

        audio_chk = audio_checks[0] if audio_checks else None
        rerouted_aliases: List[str] = []
        if audio_chk is not None:
            rerouted_aliases = self._reroute_bytes_aliases(agg_checks, exprs, ops)

        # loudness-drift: per-clip decoded-feature histograms ride the SAME
        # decode pass (row_type='fh' rows in the compact frame); a check
        # without a reference snapshot errors here and never costs a scan
        feat_bins: Dict[str, List[float]] = {}
        audio_drift_eval: List[Tuple[CompiledCheck, dict]] = []
        for chk in audio_drift_checks:
            feature = chk.params["feature"]
            stats = self.config.ref_stats.get(model_name, {}).get(f"audio:{feature}")
            if not stats:
                self._record(
                    chk, None, ResultEnum.error,
                    f"no reference snapshot for audio feature {feature} "
                    "(build with audio.audio_feature_frame + drift.build_ref_stats, "
                    "stored under ref_stats key 'audio:" + feature + "')", None)
                continue
            feat_bins[feature] = [float(x) for x in stats["bin_edges"]]
            audio_drift_eval.append((chk, stats))

        # signal-quality: per-clip decoded-feature bounds, also evaluated
        # inside the one decode pass ('fq' count + capped 'fv' violation rows)
        feat_limits: List[Tuple[str, Optional[float], Optional[float]]] = [
            (c.params["feature"], c.params["minimum"], c.params["maximum"])
            for c in audio_quality_checks
        ]
        # speaking-rate rules carry the transcript column the decode scan
        # must add as a JVM length; one text column per model
        rate_cols = {c.params["text_column"]
                     for c in audio_quality_checks
                     if c.params.get("text_column")}
        if len(rate_cols) > 1:
            raise ValueError(
                f"speaking-rate rules on one model must share a text "
                f"column, got {sorted(rate_cols)}")

        # quantile-sketch aliases (merge op "global"): per-partition values are
        # exact per partition, but the global value cannot be merged on the
        # driver — recompute it in ONE dedicated pass pruned to just the
        # percentile columns (overlapped with the scan when parallel)
        pctl_aliases = [a for a, op in ops.items() if op == "global"]

        def pctl_job() -> Dict[str, Any]:
            return df.agg(
                *[exprs[a].alias(a) for a in pctl_aliases]
            ).first().asDict()

        # sketch mode: swap the GK aggregates for mergeable t-digests — the
        # aliases leave the shared agg entirely and their values are injected
        # into the metric rows from driver-merged digests after the scan
        pctl_specs: Dict[str, Tuple[str, float]] = {}
        if pctl_aliases and self.config.pctl_mode == "sketch":
            for chk in agg_checks:
                if chk.agg_alias in pctl_aliases and chk.agg_alias not in pctl_specs:
                    # a row-scoped (filter:) percentile keeps the GK path:
                    # the t-digest pass reads the RAW column and would
                    # silently ignore the scope
                    if chk.params.get("filter"):
                        continue
                    pctl_specs[chk.agg_alias] = (
                        chk.params["column"],
                        float(chk.params["metric"][1:]) / 100.0)
            for alias in list(pctl_specs):
                exprs.pop(alias, None)
                ops.pop(alias, None)
            pctl_aliases = [a for a in pctl_aliases if a not in pctl_specs]

        spec = _ScanSpec(
            exprs=exprs, ops=ops, drift_jobs=drift_jobs, audio_chk=audio_chk,
            fp_checks=of("audio_fp"), feat_bins=feat_bins, feat_limits=feat_limits,
            rate_text_col=next(iter(rate_cols), None),
            pctl_cols=sorted({c for c, _ in pctl_specs.values()}))

        def scan():
            if part_col and self.config.checkpoint_dir:
                return self._checkpointed_states(model_name, df, spec, part_col), []
            return self._scan_partitions(df, spec, part_col)

        # a partitioned run merges percentile sketches only through the
        # dedicated global pass, which overlaps the scan
        thunks: List[Any] = [scan]
        if pctl_aliases and part_col:
            thunks.append(pctl_job)
        outs = self._parallel(thunks)
        states, fused_fp_results = outs[0]
        part_states = states if part_col else {}
        glob = self._fold(states, spec)
        global_row = glob.metrics
        if len(outs) > 1:
            for alias in pctl_aliases:
                global_row[alias] = outs[1].get(alias)
        # digest values are injected into the metric rows so recording is
        # byte-for-byte the exact-mode code path
        for alias, (col, frac) in pctl_specs.items():
            for st in (glob, *part_states.values()):
                d = st.digests.get(col)
                st.metrics[alias] = (
                    d.quantile(frac) if d is not None and d.total_weight else None)
        global_row["__total_count"] = global_row.get("__total_count") or 0
        audio_global = glob.audio or {}

        # fold the audio pass's bytes-null count back into the metric rows
        # so the required-check evaluates exactly as if it had run JVM-side
        for alias in rerouted_aliases:
            for st in (glob, *part_states.values()):
                st.metrics[alias] = (st.audio or {}).get("__audio__bytes_null") or 0

        # evaluate + record each agg check (global + per-partition rows)
        failed_agg: List[CompiledCheck] = []
        for chk in agg_checks:
            metric = self._agg_metric(chk, global_row)
            result, reason = chk.eval_metric(metric, global_row)
            self._record(chk, metric, result, reason, global_row.get("__total_count"))
            for pid, st in part_states.items():
                pm = self._agg_metric(chk, st.metrics)
                pres, preason = chk.eval_metric(pm, st.metrics)
                self._record(chk, pm, pres, preason, st.metrics.get("__total_count"),
                             partition_id=pid)
            if result == ResultEnum.failed and chk.violation_predicate is not None:
                failed_agg.append(chk)

        for chk in approx_unique:
            self._record_approx_unique(chk, states, global_row, bool(part_col))

        for chk in drift_checks:
            if "_invalid" in chk.params:
                self._record(chk, None, ResultEnum.error,
                             f"{chk.name}: {chk.params['_invalid']}", None)
                continue
            if "_stats" not in chk.params:
                self._record(chk, None, ResultEnum.error,
                             f"no reference snapshot for column {chk.params['column']}", None)
                continue
            stat = drift_mod.drift_statistic(
                global_row, chk.params["_stats"], chk.params["method"], chk.params["_prefix"]
            )
            result, reason = chk.eval_metric(stat, global_row)
            self._record(chk, stat, result, reason, global_row.get("__total_count"))

        if audio_chk is not None:
            metric = float(audio_global.get("__audio__violations") or 0)
            diag = {k.replace("__audio__", ""): v for k, v in audio_global.items()}
            result = ResultEnum.passed if metric == 0 else ResultEnum.failed
            reason = None if metric == 0 else (
                f"{int(metric)} rows violate decode conformance "
                f"(decode_error={diag.get('decode_error')}, sr={diag.get('sr_bad')}, "
                f"dur={diag.get('dur_bad')}, codec={diag.get('codec_bad')}, snr={diag.get('snr_bad')})"
            )
            self._record(audio_chk, metric, result, reason,
                         audio_global.get("__audio__rows"), diagnostics=diag)
            # per-partition rows follow the audio job's output order
            for pid, st in sorted(((k, s) for k, s in part_states.items()
                                   if s.audio is not None),
                                  key=lambda kv: kv[1].audio_rank):
                pm = float(st.audio.get("__audio__violations") or 0)
                self._record(
                    audio_chk, pm,
                    ResultEnum.passed if pm == 0 else ResultEnum.failed,
                    None if pm == 0 else f"{int(pm)} decode-conformance violations",
                    st.audio.get("__audio__rows"), partition_id=pid,
                )
            if glob.audio_vio:
                # capped violation rows came out of the SAME decode pass as
                # the metrics (compact frame) — never a second payload scan
                self._add_violations([
                    (self.run.runId, part, audio_chk.key, clip_id, observed,
                     audio_chk.expected)
                    for part, clip_id, observed in glob.audio_vio])

        for chk, res in fused_fp_results:
            self._record_result(chk, res)

        for chk, stats in audio_drift_eval:
            got = glob.hists.get(chk.params["feature"], {})
            counts = [got.get(k, 0) for k in range(len(stats["bin_edges"]) + 1)]
            stat = drift_mod.drift_statistic_from_counts(
                counts, stats, chk.params["method"])
            result, reason = chk.eval_metric(stat, {})
            self._record(chk, stat, result, reason, sum(counts))

        # out-of-range clip counts from the same decode pass ('fq' rows);
        # absent counts mean zero violations
        total = (audio_global.get("__audio__rows")
                 if audio_chk is not None else global_row.get("__total_count"))
        for li, chk in enumerate(audio_quality_checks):
            metric = float(glob.quality.get(li, 0))
            result, reason = chk.eval_metric(metric, {})
            self._record(chk, metric, result, reason, total)
            for pid, st in part_states.items():
                pm = float(st.quality.get(li, 0))
                pres, preason = chk.eval_metric(pm, {})
                self._record(chk, pm, pres, preason,
                             st.metrics.get("__total_count"), partition_id=pid)
            vio_rows = [(self.run.runId, part, chk.key, clip_id, observed, chk.expected)
                        for part, clip_id, observed in glob.quality_vio.get(li, [])]
            if vio_rows:
                self._add_violations(vio_rows)

        if failed_agg:
            self._collect_agg_violations(model_name, df, failed_agg)

    def _scan_partitions(
        self, frame: DataFrame, spec: "_ScanSpec", part_col: Optional[str],
    ) -> Tuple[Dict[Optional[str], "_PartState"], List[Tuple[CompiledCheck, dict]]]:
        """The shared scan of ``frame`` as one decomposable state per
        partition key, plus the results of the fingerprint checks fused into
        its decode pass (global, so kept out of the states).

        Its jobs run concurrently: the main aggregate, the drift buckets, the
        audio decode pass and the t-digest pass — decode dominates, the small
        aggregates ride along on spare slots. With ``part_col`` every job
        keys its rows by the frame's ``PART_KEY``; without it there is one
        state, keyed None, and no job groups by a partition."""
        key = PART_KEY if part_col else None
        agg_list = [v.alias(k) for k, v in spec.exprs.items()]

        def main_job() -> List[Dict[str, Any]]:
            if key:
                # grouped by the column itself, which orders the partitions'
                # results rows; each group has the one key
                return [r.asDict() for r in frame.groupBy(part_col).agg(*agg_list)
                        .withColumn(key, drift_mod.partition_key(part_col))
                        .drop(part_col).collect()]
            return [frame.agg(*agg_list).first().asDict()]

        def drift_job():
            return drift_mod.drift_bucket_rows(frame, spec.drift_jobs, key)

        def audio_job():
            # fingerprints, feature histograms and feature bounds ride
            # along in the one decode pass; the compact frame (counts +
            # capped vios + fp/fh/fq rows, far smaller than the payload)
            # is persisted once and feeds every consumer
            from . import audiofp as afp

            compact = self._audio_compact(
                frame, spec.audio_chk, key,
                fp_fn=afp.fingerprint_hashes if spec.fp_checks else None,
                feat_bins=spec.feat_bins or None,
                feat_limits=spec.feat_limits or None,
                text_col=spec.rate_text_col,
            ).persist(StorageLevel.MEMORY_AND_DISK)
            try:
                sums, vio = (self._audio_compact_collect(compact, bool(key))
                             if spec.audio_chk is not None else ([], []))
                fp = compact.filter(F.col("row_type") == "fp").select("clip_id", "hash")
                fp_results = [
                    (chk, self._audio_fp_result(afp.audio_fingerprint_near_dup(
                        fp, threshold=float(chk.params["score_threshold"])), chk))
                    for chk in spec.fp_checks]
                hists = (self._audio_hist_collect(compact, bool(key))
                         if spec.feat_bins else [])
                counts, samples = (self._audio_quality_collect(compact, bool(key))
                                   if spec.feat_limits else ([], []))
            finally:
                compact.unpersist()
            return sums, vio, fp_results, hists, counts, samples

        def sketch_job():
            return td_mod.collect_digests(frame, spec.pctl_cols, key)

        jobs: Dict[str, Any] = {"main": main_job}
        if spec.drift_jobs:
            jobs["drift"] = drift_job
        if (spec.audio_chk is not None or spec.fp_checks or spec.feat_bins
                or spec.feat_limits):
            jobs["audio"] = audio_job
        if spec.pctl_cols:
            jobs["sketch"] = sketch_job
        out = dict(zip(jobs, self._parallel(list(jobs.values()))))

        states: Dict[Optional[str], _PartState] = {}

        def at(pid: Optional[str]) -> _PartState:
            return states.setdefault(pid, _PartState())

        for row in out["main"]:
            at(row.pop(key) if key else None).metrics = row
        if spec.drift_jobs:
            zero = {alias: 0 for job in spec.drift_jobs for alias in
                    drift_mod.drift_aliases(job["prefix"], job["stats"], job["method"])}
            for pid, st in states.items():
                st.metrics.update(out["drift"].get(pid, zero))
        fp_results: List[Tuple[CompiledCheck, dict]] = []
        if "audio" in out:
            sums, vio, fp_results, hists, counts, samples = out["audio"]
            for rank, row in enumerate(sums):
                st = at(row.pop("__part"))
                st.audio, st.audio_rank = row, rank
            for v in vio:
                at(v[0]).audio_vio.append(v)
            for pid, feature, b, c in hists:
                bins = at(pid).hists.setdefault(feature, {})
                bins[b] = bins.get(b, 0) + c
            for pid, li, c in counts:
                q = at(pid).quality
                q[li] = q.get(li, 0) + c
            for pid, li, clip_id, observed in samples:
                at(pid).quality_vio.setdefault(li, []).append((pid, clip_id, observed))
        for (pid, col), d in out.get("sketch", {}).items():
            at(pid if key else None).digests[col] = d
        return states, fp_results

    def _fold(self, states: Dict[Optional[str], "_PartState"],
              spec: "_ScanSpec") -> "_PartState":
        """The global state of a run: metric rows merged by ``spec.ops``,
        audio sums and histogram and quality counts summed, samples re-capped
        by clip_id (per rule for quality; the global first ``cap`` are among
        each partition's first ``cap``), digests merged in key order."""
        cap = self.config.violation_cap
        parts = list(states.values())
        out = _PartState(metrics=_merge_rows([s.metrics for s in parts], spec.ops))
        if spec.audio_chk is not None:
            # empty input (or an empty partition) -> zero counts, exactly as
            # the JVM aggregate's coalesce(sum(..), 0) would report
            audio = _merge_rows([s.audio for s in parts if s.audio is not None],
                                self._AUDIO_OPS)
            out.audio = {a: audio.get(a) or 0 for a in self._AUDIO_OPS}
        out.audio_vio = sorted((v for s in parts for v in s.audio_vio),
                               key=_by_clip_id)[:cap]
        for s in parts:
            for feature, bins in s.hists.items():
                dst = out.hists.setdefault(feature, {})
                for b, c in bins.items():
                    dst[b] = dst.get(b, 0) + c
            for li, c in s.quality.items():
                out.quality[li] = out.quality.get(li, 0) + c
            for li, vs in s.quality_vio.items():
                out.quality_vio.setdefault(li, []).extend(vs)
        for li, vs in out.quality_vio.items():
            out.quality_vio[li] = sorted(vs, key=_by_clip_id)[:cap]
        for col in spec.pctl_cols:
            out.digests[col] = td_mod.TDigest.merge(
                [states[k].digests[col] for k in sorted(states)
                 if col in states[k].digests], td_mod.DEFAULT_DELTA)
        return out

    def _agg_metric(self, chk: CompiledCheck, row: Dict[str, Any]) -> Optional[float]:
        finisher = chk.params.get("finisher")
        if finisher is not None:
            # metric checks: partials (sum/count/sumsq/min/max) were merged
            # losslessly across partitions; finish them into the final value
            return finisher(row)
        value = row.get(chk.agg_alias) if chk.agg_alias else None
        if chk.kind in ("freshness", "retention"):
            if value is None:
                return None
            now = self.config.now or dt.datetime.now(dt.timezone.utc)
            ts = value
            if isinstance(ts, dt.date) and not isinstance(ts, dt.datetime):
                ts = dt.datetime(ts.year, ts.month, ts.day)
            if ts.tzinfo is None:
                ts = ts.replace(tzinfo=dt.timezone.utc)
            return (now - ts).total_seconds()
        if value is None:
            return None
        return float(value)

    # -- violations (single scan over all failed predicates) -----------------

    def _pk_column(self, model_name: str, df: DataFrame) -> str:
        from .spec import model_pk

        return model_pk(self.spec, model_name, df)

    def _sample_frame(self, model_name: str, df: DataFrame) -> DataFrame:
        """Deterministic keyed-hash sample for pre-flight validation (see
        ValidationConfig.sample_fraction). xxhash64(pk, seed) is uniform over
        the signed 64-bit range, so `hash < frac * 2^64 - 2^63` keeps an
        unbiased ~frac of rows — pure JVM, pushdown-friendly, stable under
        repartition/retries, and the SAME rows every run at a given seed
        (a violation found once reproduces; change the seed to draw a
        different panel)."""
        frac = float(self.config.sample_fraction)
        if not (0.0 < frac < 1.0):
            raise ValueError("sample_fraction must be in (0, 1) — run without "
                             "it for the certifying full scan")
        pk = self._pk_column(model_name, df)
        thr = min(int(frac * 2.0 ** 64) - 2 ** 63, 2 ** 63 - 1)
        self.run.log_warn(
            f"{model_name}: SAMPLED validation at fraction {frac:g} "
            f"(seed {self.config.sample_seed}) — metrics are raw sample "
            "counts; a pass bounds, not certifies, the violation rate")
        return df.filter(
            F.xxhash64(F.col(pk).cast("string"),
                       F.lit(self.config.sample_seed)) < F.lit(thr)
        )

    def _collect_agg_violations(
        self,
        model_name: str,
        df: DataFrame,
        failed: List[CompiledCheck],
    ) -> None:
        pk = self._pk_column(model_name, df)
        structs = [
            F.when(
                chk.violation_predicate(),
                F.struct(
                    F.lit(chk.key).alias("check_key"),
                    (chk.observed_expr() if chk.observed_expr is not None
                     else F.lit(None).cast("string")).alias("observed"),
                    F.lit(chk.expected).cast("string").alias("expected"),
                ),
            )
            for chk in failed
        ]
        arr = F.filter(F.array(*structs), lambda x: x.isNotNull())
        base = df.select(
            F.col(pk).cast("string").alias("clip_id"),
            (F.col(PART_KEY) if PART_KEY in df.columns else F.lit(None).cast("string")
             ).alias("partition_id"),
            arr.alias("__v"),
        ).filter(F.size("__v") > 0)
        exploded = self._violation_frame(
            base.select("partition_id", F.explode("__v").alias("v"), "clip_id"),
            F.col("v.check_key"), F.col("clip_id"), F.col("v.observed"),
            F.col("v.expected"), partition_id=F.col("partition_id"))
        # Two-phase cap: a naive window over check_key alone would shuffle
        # EVERY violating row to one reducer per check (billions of rows on a
        # 10^12-row table with a hot failing rule). Phase 1 caps per
        # (check_key, input-partition) — keys are spread across reducers, and
        # the global top-cap by clip_id is a subset of the local top-caps, so
        # results are identical. Phase 2 ranks the <= cap * num_partitions
        # survivors per check, which is small by construction.
        cap = self.config.violation_cap
        w_local = Window.partitionBy("check_key", "__pid").orderBy("clip_id")
        local = (
            exploded.withColumn("__pid", F.spark_partition_id())
            .withColumn("__rn", F.row_number().over(w_local))
            .filter(F.col("__rn") <= cap)
            .drop("__rn", "__pid")
        )
        w = Window.partitionBy("check_key").orderBy("clip_id")
        capped = (
            local.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= cap)
            .drop("__rn")
        )
        self._add_violations(capped.collect())

    def _violation_frame(self, frame: DataFrame, check_key: Any, clip_id: Any,
                         observed: Any, expected: Any,
                         partition_id: Any = None) -> DataFrame:
        """``frame`` projected to the VIOLATIONS_DDL columns; arguments are
        Columns or plain values (which become string literals)."""
        def col(v: Any) -> Column:
            return v if isinstance(v, Column) else F.lit(v).cast("string")

        return frame.select(
            F.lit(self.run.runId).alias("run_id"),
            col(partition_id).alias("partition_id"),
            col(check_key).alias("check_key"),
            col(clip_id).alias("clip_id"),
            col(observed).alias("observed"),
            col(expected).alias("expected"),
        )

    def _count_and_sample(self, frame: DataFrame, chk: CompiledCheck,
                          order: Tuple[str, ...] = ("id_a",),
                          clip_id: Optional[Column] = None,
                          observed: Optional[Column] = None) -> dict:
        """Count of the violating rows in ``frame`` and their capped sample
        in ``order``, from one persisted evaluation (the sample never
        recomputes the frame); the internal caches of the operator that
        built ``frame`` are released with it. The defaults fit a
        violating-payload frame (id_a, __observed) whose NULL ids report as
        <null-id>."""
        from .pipeline_ckpt import release_caches

        if clip_id is None:
            clip_id = F.coalesce(F.col("id_a"), F.lit("<null-id>"))
            observed = F.col("__observed")

        frame = frame.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            metric = float(frame.count())
            vio_rows = None
            if metric > 0:
                vio = self._violation_frame(
                    frame.orderBy(*order).limit(self.config.violation_cap),
                    chk.key, clip_id, observed, chk.expected)
                vio_rows = vio.collect()
            return {"metric": metric, "vio_rows": vio_rows}
        finally:
            frame.unpersist()
            release_caches(frame)

    # -- approx uniqueness (HLL sketch in the shared scan; zero extra shuffle) --

    def _record_approx_unique(
        self,
        chk: CompiledCheck,
        states: Dict[Optional[str], _PartState],
        global_row: Dict[str, Any],
        per_partition: bool,
    ) -> None:
        """Evaluate a unique check from the shared scan's HLL sketch.

        Estimated duplicate rows = nonnull_count - hll_estimate. HLL unions
        are lossless for equal lgConfigK, so the global estimate from unioned
        per-partition sketches is identical to a direct global sketch. The
        pass/fail bar is a 3-sigma noise floor (rsd = 1.04/sqrt(2^lgk)) —
        approx mode detects duplicate MASS above sketch noise; use
        unique_mode='exact' to certify zero duplicates.
        """
        nn_alias, sk_alias = self._hll_aliases(chk)
        rsd = 1.04 / math.sqrt(2 ** self.config.unique_hll_lgk)
        sketches = [(pid, st.metrics[sk_alias]) for pid, st in states.items()
                    if st.metrics.get(sk_alias) is not None]
        if not sketches:
            nn = global_row.get(nn_alias) or 0
            self._record(chk, 0.0, ResultEnum.passed, None, None,
                         diagnostics={"approx": True, "nonnull": nn})
            return
        tiny = self.spark.createDataFrame(
            [(pid, bytearray(sk)) for pid, sk in sketches], "pid string, sk binary")
        per_part = {
            r["pid"]: float(r["est"])
            for r in tiny.select("pid", F.hll_sketch_estimate("sk").alias("est")).collect()
        }
        global_est = float(
            tiny.agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est")).first()["est"]
        )

        def judge(nonnull: float, est: float):
            dup_est = max(0.0, nonnull - est)
            floor = 3.0 * rsd * nonnull
            if dup_est <= floor:
                return dup_est, ResultEnum.passed, None
            return dup_est, ResultEnum.failed, (
                f"{chk.name}: ~{int(dup_est)} duplicate rows estimated "
                f"(nonnull={int(nonnull)}, approx_distinct={int(est)}, "
                f"noise_floor={floor:.1f})"
            )

        nn_global = float(global_row.get(nn_alias) or 0)
        metric, result, reason = judge(nn_global, global_est)
        self._record(chk, metric, result, reason, None, diagnostics={
            "approx": True, "approx_distinct": global_est,
            "nonnull": nn_global, "rsd": rsd,
        })
        if per_partition:
            for pid, st in states.items():
                est = per_part.get(pid)
                if est is None:
                    continue
                pm, pres, preason = judge(float(st.metrics.get(nn_alias) or 0), est)
                self._record(chk, pm, pres, preason, None, partition_id=pid)

    # -- uniqueness (dedicated shuffle; AQE-skew-safe) ------------------------

    def _unique_compute(self, model_name: str, df: DataFrame, chk: CompiledCheck) -> dict:
        """Exact duplicate count via two-phase salted aggregation.

        ``groupBy(col).count()`` compiles to partial-agg -> exchange -> final-agg:
        each map task pre-combines its rows per key, so a hot key (every row the
        same clip_id) reaches the reducer as at most ONE row per input partition
        — the map-side partial aggregation IS the explicit salt (salt = input
        partition id), with the salted partial counts summed in the final agg.
        Shuffle volume is bounded by distinct-keys-per-partition, never by row
        count, and AQE skew handling covers residual reducer imbalance when
        distinct keys themselves are many and hot. Never materializes full rows
        (no ``dropDuplicates``) — only (key, count) pairs with count > 1 survive
        the first pass.
        """
        key_cols = chk.params.get("key_cols") or [chk.field]
        flt = chk.params.get("filter")
        base = df.filter(F.expr(flt)) if flt else df
        # alias so dotted (nested-struct) paths keep a stable key column name;
        # composite keys group on every component and report the tuple as a
        # '|'-joined string. Rows with any NULL component are excluded (field
        # semantics: duplicate_count is over non-null values; composite PK
        # semantics: NULL components belong to composite_key_null).
        aliased = [F.col(c).alias(f"__k{i}") for i, c in enumerate(key_cols)]
        names = [f"__k{i}" for i in range(len(key_cols))]
        notnull = F.col(names[0]).isNotNull()
        for n_ in names[1:]:
            notnull = notnull & F.col(n_).isNotNull()
        dup = (
            base.select(*aliased).filter(notnull)
            .groupBy(*names).agg(F.count(F.lit(1)).alias("__cnt"))
            .filter(F.col("__cnt") > 1)
            .select(
                F.concat_ws("|", *[F.col(n_).cast("string") for n_ in names])
                .alias("__key"),
                "__cnt",
            )
        )
        # dup holds only keys with count > 1 — tiny relative to the input.
        # Persist it across the stats action and the violation sample so a
        # FAILING unique check does not re-run the key shuffle (the single
        # most expensive job at 10^12 rows) a second time just to collect
        # the capped examples.
        dup = dup.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            stats = dup.agg(
                F.count(F.lit(1)).alias("dup_values"),
                F.coalesce(F.sum(F.col("__cnt") - 1), F.lit(0)).alias("dup_rows"),
            ).first()
            metric = float(stats["dup_values"] or 0)
            vio_rows = None
            if metric > 0:
                vio = self._violation_frame(
                    dup.orderBy(F.col("__cnt").desc(), F.col("__key")).limit(
                        self.config.violation_cap),
                    chk.key, F.col("__key").cast("string"),
                    F.concat(F.lit("count="), F.col("__cnt").cast("string")), "unique")
                vio_rows = vio.collect()
        finally:
            dup.unpersist()
        return {"metric": metric, "vio_rows": vio_rows, "diagnostics": {
            "dup_values": stats["dup_values"], "dup_rows": stats["dup_rows"]}}

    # -- per-group aggregate thresholds (group quality checks) ----------------

    def _group_compute(self, model_name: str, df: DataFrame, chk: CompiledCheck) -> dict:
        """groupBy(key) + decomposable aggregate + threshold filter.

        Same shuffle shape as `_unique_compute`: map-side partial aggregation
        bounds shuffle volume by distinct-keys-per-partition, AQE covers
        reducer skew. The threshold is a Spark predicate, so violating groups
        are counted distributed and only `violation_cap` examples reach the
        driver — a billion-group key column never materializes driver-side.
        """
        p = chk.params
        gcol, agg_thunk = p["group_col"], p["agg_expr"]
        if agg_thunk is None:
            return {"error": f"unsupported group metric {p['metric']!r} "
                             f"(over column required for sum/avg/min/max)"}
        if resolve_schema_field(df.schema, gcol) is None:
            return {"error": f"group column {gcol} missing"}
        if p["over"] and resolve_schema_field(df.schema, p["over"]) is None:
            return {"error": f"aggregated column {p['over']} missing"}
        if p.get("filter"):
            # scoped group thresholds: out-of-scope rows never reach the
            # groupBy (groups entirely out of scope simply don't exist)
            df = df.filter(F.expr(p["filter"]))
        grouped = df.groupBy(F.col(gcol).alias("__gkey")).agg(agg_thunk().alias("__gval"))
        pass_pred = p["pass_pred"](F.col("__gval"))
        # violating groups only (post-aggregate, bounded by group count, not
        # row count), counted and sampled from one persisted evaluation so a
        # failing group check pays the groupBy shuffle exactly once
        return self._count_and_sample(
            grouped.filter(~F.coalesce(pass_pred, F.lit(False))), chk, ("__gkey",),
            F.col("__gkey").cast("string"),
            F.concat(F.lit(f"{p['metric']}="), F.col("__gval").cast("string")))

    # -- audio content uniqueness (fingerprint near-dup) ----------------------

    def _audio_fp_compute(self, model_name: str, df: DataFrame, chk: CompiledCheck) -> dict:
        """Acoustic near-dup pair count via dcspark/audiofp.py.

        One mapInArrow decode+FFT pass emits (clip_id, hash); candidates come
        from the bucketed hash equi-join (never all-pairs), the pair count is
        aggregated distributed, and only violation_cap example pairs reach the
        driver. Runs concurrently with the shared scan's decode pass in the
        thunk pool.
        """
        from . import audiofp as afp

        p = chk.params
        bytes_col = p["bytes_col"]
        if bytes_col not in df.columns:
            return {"error": f"bytes column {bytes_col} missing"}
        id_col = self._pk_column(model_name, df)
        pairs = afp.audio_near_dup(
            df, id_col=id_col, bytes_col=bytes_col,
            threshold=float(p["score_threshold"]),
        )
        return self._audio_fp_result(pairs, chk)

    def _audio_fp_result(self, pairs: DataFrame, chk: CompiledCheck) -> dict:
        """Pair count + capped example pairs of a near-dup pair frame."""
        return self._count_and_sample(
            pairs, chk, ("id_a", "id_b"),
            F.concat(F.col("id_a"), F.lit("|"), F.col("id_b")),
            F.concat(F.lit("matches="), F.col("matches").cast("string"),
                     F.lit(" score="), F.col("score").cast("string")))

    def _image_compact(self, df: DataFrame, id_col: str, bytes_col: str,
                       with_dhash: bool, features: tuple) -> DataFrame:
        """The single fused image decode pass (imagefp.image_compact), as a
        method so the fusion tests can count invocations."""
        from . import imagefp

        return imagefp.image_compact(
            df, id_col=id_col, bytes_col=bytes_col,
            with_dhash=with_dhash, features=features)

    def _image_family_compute(
        self, model_name: str, df: DataFrame, group: List[CompiledCheck],
    ) -> Dict[str, dict]:
        """All image contract rules on one payload column from ONE decode.

        A single mapInArrow pass (imagefp.image_compact) emits the compact
        per-image frame — dims + decode_error always, dHash when a
        content-uniqueness rule is present, decoded-raster features when
        signal-quality rules are present. The frame persists (scalar rows
        only — pixels never shuffle or spill) and every check in the group
        evaluates from it: at 100 TB the payload scan IS the job, so the
        family must never decode twice (mirrors the audio family's
        exactly-one-decode invariant). Runs concurrently in the thunk pool."""
        bytes_col = group[0].params["bytes_col"]
        if bytes_col not in df.columns:
            return {c.key: {"error": f"bytes column {bytes_col} missing"}
                    for c in group}
        decode_checks = [c for c in group if c.kind == "image"]
        quality_checks = [c for c in group if c.kind == "image_quality"]
        fp_checks = [c for c in group if c.kind == "image_fp"]
        drift_checks = [c for c in group if c.kind == "image_drift"]
        out: Dict[str, dict] = {}
        # drift without a reference snapshot errors at zero cost — and its
        # feature must not join the decode pass it will never consume
        drift_eval: List[Tuple[CompiledCheck, dict]] = []
        for c in drift_checks:
            feat = c.params["feature"]
            stats = self.config.ref_stats.get(model_name, {}).get(f"image:{feat}")
            if not stats:
                out[c.key] = {"error": (
                    f"no reference snapshot for image feature {feat} "
                    "(build with the CLI snapshot command; stored under "
                    f"ref_stats key 'image:{feat}')")}
            else:
                drift_eval.append((c, stats))
        features = tuple(sorted(
            {c.params["feature"] for c in quality_checks}
            | {c.params["feature"] for c, _ in drift_eval}))
        id_col = self._pk_column(model_name, df)
        compact = self._image_compact(
            df, id_col=id_col, bytes_col=bytes_col,
            with_dhash=bool(fp_checks), features=features)
        compact = compact.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            for c in decode_checks:
                out[c.key] = self._image_decode_eval(df, compact, c, id_col)
            for c in quality_checks:
                out[c.key] = self._image_quality_eval(compact, c)
            for c, stats in drift_eval:
                out[c.key] = self._image_drift_eval(compact, c, stats)
            for c in fp_checks:
                out[c.key] = self._image_fp_eval(compact, c)
            return out
        finally:
            compact.unpersist()

    def _image_decode_eval(self, df: DataFrame, compact: DataFrame,
                           chk: CompiledCheck, id_col: str) -> dict:
        """Decode conformance from the compact frame; with declared
        width/height columns the comparison joins back on the primary key
        (8-byte-ish rows only)."""
        p = chk.params
        for dim_col in (p["width_col"], p["height_col"]):
            if dim_col and dim_col not in df.columns:
                return {"error": f"declared dimension column {dim_col} missing"}
        return self._count_and_sample(self._declared_mismatch(
            compact, df, id_col,
            [(label, dim, p[f"{dim}_col"], None)
             for label, dim in (("w", "width"), ("h", "height"))
             if p[f"{dim}_col"]]), chk)

    def _declared_mismatch(self, meta: DataFrame, df: DataFrame, id_col: str,
                           decl: List[Tuple[str, str, str, Optional[float]]]
                           ) -> DataFrame:
        """Violating payloads (id_a, __observed) of a decoded-metadata frame
        ``meta`` (id, decode_error, decoded columns): a decode error, or a
        decoded column that differs from its declared column in ``df``.
        ``decl`` holds (label, decoded column, declared column, tolerance)
        per comparison. The declared side is DEDUPLICATED on the primary key
        (duplicate pks would fan out and overcount) and LEFT-joined (null-pk
        rows stay visible); comparisons are null-SAFE, so a NULL on either
        side is a violation (the row is unverifiable) instead of slipping
        through '!=' three-valued logic — with a tolerance, both sides must
        be present and within it."""
        bad_cond = F.col("decode_error").isNotNull()
        observed = [F.coalesce(F.col("decode_error"), F.lit(""))]
        if decl:
            declared = df.select(
                F.col(id_col).cast("string").alias("id"),
                *[F.col(c).alias(f"__decl{i}") for i, (_, _, c, _) in enumerate(decl)],
            ).dropDuplicates(["id"])
            meta = meta.join(declared, "id", "left")
            for i, (label, decoded, _, tol) in enumerate(decl):
                dv, cv = F.col(decoded), F.col(f"__decl{i}")
                ok = (dv.eqNullSafe(cv) if tol is None else
                      dv.isNotNull() & cv.isNotNull() & (F.abs(dv - cv) <= F.lit(tol)))
                bad_cond = bad_cond | ~ok
                observed.append(F.concat(
                    F.lit(f" {label}="), F.coalesce(dv.cast("string"), F.lit("?")),
                    F.lit("/"), F.coalesce(cv.cast("string"), F.lit("?"))))
        return meta.filter(bad_cond).select(
            F.col("id").alias("id_a"), F.concat_ws("", *observed).alias("__observed"))

    def _image_quality_eval(self, compact: DataFrame,
                            chk: CompiledCheck) -> dict:
        """Signal-quality bounds from the compact frame's f_<feature> column.

        Decode failures belong to decode-conformance and are never
        double-counted here (their feature columns are NULL, and the
        explicit decode_error guard keeps the semantics visible)."""
        p = chk.params
        feat = F.col(f"f_{p['feature']}")
        cond = F.lit(False)
        if p["minimum"] is not None:
            cond = cond | (feat < F.lit(float(p["minimum"])))
        if p["maximum"] is not None:
            cond = cond | (feat > F.lit(float(p["maximum"])))
        bad = compact.filter(F.col("decode_error").isNull() & cond).select(
            F.col("id").alias("id_a"),
            F.concat(F.lit(p["feature"] + "="),
                     F.round(feat, 4).cast("string")).alias("__observed"))
        return self._count_and_sample(bad, chk)

    def _image_drift_eval(self, compact: DataFrame, chk: CompiledCheck,
                          stats: dict) -> dict:
        """Binned KS/PSI of the compact frame's f_<feature> column against
        the snapshot's bin grid — one groupBy over persisted scalars, no
        payload rescan. Decode failures are excluded (they belong to
        decode-conformance; a drift statistic over them is meaningless)."""
        from . import drift as drift_mod

        feat = f"f_{chk.params['feature']}"
        edges = [float(x) for x in stats["bin_edges"]]
        bucketed, (to_bucket,) = drift_mod.grid_buckets(
            compact.filter(F.col("decode_error").isNull()
                           & F.col(feat).isNotNull()),
            [(feat, edges)])
        counts = [0] * (len(edges) + 1)
        for r in bucketed.groupBy("__gb0").count().collect():
            counts[to_bucket[int(r["__gb0"])]] += int(r["count"])
        stat = drift_mod.drift_statistic_from_counts(
            counts, stats, chk.params["method"])
        return {"metric": stat, "rows": sum(counts)}

    def _image_fp_eval(self, compact: DataFrame, chk: CompiledCheck) -> dict:
        """Content uniqueness: blocked Hamming pairs over the compact
        frame's dhash column (imagefp.near_dup_pairs_from_fp — only 8-byte
        hashes shuffle); metric = pair count, violations = capped pairs."""
        from . import imagefp

        p = chk.params
        pairs = imagefp.near_dup_pairs_from_fp(
            compact.select("id", "dhash"),
            max_hamming=p["max_hamming"], max_bucket=p["max_bucket"])
        return self._count_and_sample(
            pairs, chk, ("id_a", "id_b"),
            F.concat(F.col("id_a"), F.lit("|"), F.col("id_b")),
            F.concat(F.lit("hamming="), F.col("hamming").cast("string")))

    def _video_compute(self, model_name: str, df: DataFrame,
                       chk: CompiledCheck) -> dict:
        """Video decode conformance: one mapInArrow decode pass
        (multimodal.video_metadata) emitting scalars; declared fps (within
        ``fps_tolerance``) / frame-count / dims join back on the primary key
        exactly as the image rule's dims do (``_declared_mismatch``)."""
        from . import multimodal

        p = chk.params
        bytes_col = p["bytes_col"]
        if bytes_col not in df.columns:
            return {"error": f"bytes column {bytes_col} missing"}
        decl = {k: v for k, v in p["decl_cols"].items() if v}
        for col in decl.values():
            if col not in df.columns:
                return {"error": f"declared column {col} missing"}
        id_col = self._pk_column(model_name, df)
        meta = multimodal.video_metadata(df, id_col=id_col, bytes_col=bytes_col)
        decoded = {"fps": "fps", "frames": "n_frames", "width": "width", "height": "height"}
        return self._count_and_sample(self._declared_mismatch(
            meta, df, id_col,
            [(k, decoded[k], c, p["fps_tolerance"] if k == "fps" else None)
             for k, c in decl.items()]), chk)

    # -- referential integrity (anti-join) ------------------------------------

    def _reference_compute(self, model_name: str, df: DataFrame, chk: CompiledCheck) -> dict:
        parent_name = chk.params["parent_model"]
        parent_field = chk.params["parent_field"]
        parent = self.tables.get(parent_name)
        if parent is None:
            return {"error": f"parent table {parent_name} not provided"}
        if parent_field not in parent.columns:
            return {"error": f"parent column {parent_field} missing in {parent_name}"}
        child_col = chk.field
        flt = chk.params.get("filter")
        if flt:
            # scoped referential integrity: only in-scope child rows must
            # resolve (filter applied before the anti-join, so pushdown
            # shrinks the probe side)
            df = df.filter(F.expr(flt))
        part_col = self._partition_col(df)
        if part_col == child_col:
            part_col = None
        diagnostics = None
        orphans = None
        if self.config.reference_mode == "approx":
            built = self._reference_bloom_orphans(df, chk, parent,
                                                  parent_field, child_col,
                                                  part_col)
            if built is not None:
                orphans, diagnostics = built
            # else: bloom over budget — fall through to the exact anti-join
        if orphans is None:
            keys = F.broadcast(parent.select(
                F.col(parent_field).alias("__parent_key")).distinct())
            # alias so dotted (nested-struct) paths keep a stable key column
            # name; the partition column rides along for per-partition
            # orphan attribution
            sel = [F.col(child_col).alias("__child")]
            if part_col:
                sel.append(F.col(part_col))
            orphans = df.select(*sel).filter(
                F.col("__child").isNotNull()
            ).join(keys, on=F.col("__child") == F.col("__parent_key"),
                   how="left_anti")
        # Reduce to (orphan value[, partition], row count) before any action:
        # the grouped frame is bounded by DISTINCT orphan values (map-side
        # partial agg), so persisting it is cheap even when billions of rows
        # are orphaned — and the exact row-level metric, the per-partition
        # rollup, and the capped per-row example sample all derive from it
        # without re-running the anti-join (the full child-table shuffle) a
        # second time.
        gcols = ["__child"] + ([part_col] if part_col else [])
        grouped = orphans.groupBy(*gcols).agg(F.count(F.lit(1)).alias("__cnt"))
        if part_col:
            # keyed after grouping by the column itself, which orders the
            # violation sample
            grouped = grouped.withColumn(PART_KEY, drift_mod.partition_key(part_col))
        grouped = grouped.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            metric = float(
                grouped.agg(F.coalesce(F.sum("__cnt"), F.lit(0)).alias("n")).first()["n"]
            )
            part_metrics = None
            if part_col:
                part_metrics = {
                    r[PART_KEY]: float(r["n"])
                    for r in grouped.groupBy(PART_KEY)
                    .agg(F.sum("__cnt").alias("n")).collect()
                }
            vio_rows = None
            if metric > 0:
                cap = self.config.violation_cap
                # per-row violation semantics preserved: a value orphaned k
                # times contributes min(k, cap) example rows, capped overall
                # in (partition, value) order so the sample does not depend
                # on shuffle partitioning
                examples = grouped.select(
                    (F.col(PART_KEY) if part_col
                     else F.lit(None).cast("string")).alias("__part"),
                    F.explode(
                        F.array_repeat(
                            F.col("__child"),
                            F.least(F.col("__cnt"), F.lit(cap)).cast("int"),
                        )
                    ).alias("__child"),
                ).orderBy("__part", "__child").limit(cap)
                child = F.col("__child").cast("string")
                vio = self._violation_frame(examples, chk.key, child, child,
                                            chk.expected, F.col("__part"))
                vio_rows = vio.collect()
        finally:
            grouped.unpersist()
            # approx path: the bitset broadcast is only needed while the
            # probe can still (re-)run — after grouped is unpersisted nothing
            # derives from it, and Spark never GCs broadcasts on long-lived
            # sessions (a bench loop would accumulate one per check run)
            bc = getattr(orphans, "_dcspark_broadcast", None)
            if bc is not None:
                try:
                    bc.destroy()
                except Exception:  # noqa: BLE001 — cleanup must never mask results
                    pass
        out = {"metric": metric, "vio_rows": vio_rows,
               "part_metrics": part_metrics}
        if diagnostics:
            out["diagnostics"] = diagnostics
        return out

    def _reference_bloom_orphans(self, df: DataFrame, chk: CompiledCheck,
                                 parent: DataFrame, parent_field: str,
                                 child_col: str,
                                 part_col: Optional[str] = None):
        """Approx referential path (``reference_mode="approx"``): parent keys
        fold into ONE Bloom bitset; child rows whose key is provably absent
        are the orphans — the membership probe is MAP-ONLY, so the
        10^12-row child table never shuffles (vs the exact path's anti-join,
        whose sort-merge fallback shuffles every child row when the parent
        outgrows broadcast).

        Semantics are one-sided and disclosed: a Bloom filter has no false
        negatives, so every reported orphan is REAL (a failing check is
        proof); a passing check may miss each true orphan with probability
        ~fpp (~0.8% at the 10 bits/key sizing). Use the exact mode for
        certification; approx for the routine at-scale sweep — the same
        exact/approx contract as unique_mode.

        Returns (orphans_frame, diagnostics) or None when the bitset would
        exceed ``reference_bloom_max_bytes`` (the broadcast budget — same
        guard pattern as decontam's broadcast_max_grams), in which case the
        caller falls back to the exact anti-join.
        """
        from . import bloomfilter as bf

        m, k, n_b, bits = bf.build_column_bloom(
            parent, parent_field,
            max_bytes=self.config.reference_bloom_max_bytes)
        if bits is None:
            self.run.log_info(
                f"{chk.key}: approx reference mode fell back to the exact "
                f"anti-join — parent bloom would need {m // 8} bytes for "
                f"~{n_b} keys (budget {self.config.reference_bloom_max_bytes})")
            return None
        fpp = bf.bloom_fpp(m, k, n_b)
        self.run.log_info(
            f"{chk.key}: approx reference mode — {m // 8}-byte parent bloom "
            f"over ~{n_b} keys, child probe map-only; reported orphans are "
            f"exact, missed-orphan probability ~{fpp:.2%} per row")
        # F.hash/xxhash64 are type-dependent: the child key MUST hash as the
        # parent key's exact type, or a benign int32-vs-int64 FK pairing
        # (parquet writers disagree on key widths all the time) would report
        # EVERY child row as an orphan — the false-positive outcome the
        # mode's one-sided contract promises cannot happen. try_cast, not
        # cast: under ANSI (the Spark 4 default) an unparseable key would
        # abort the whole run with CAST_INVALID_INPUT; a non-null key whose
        # cast is null provably matches no parent key, so it flows through
        # the probe as a definite orphan (ADVICE r04) — still one child
        # scan, zero shuffle.
        parent_type = parent.schema[parent_field].dataType
        sel = [F.col(child_col).try_cast(parent_type).alias("__cast"),
               F.col(child_col).alias("__orig")]
        if part_col:
            sel.append(F.col(part_col))
        src = df.select(*sel).filter(F.col("__orig").isNotNull())
        probe = bf.non_members(
            src, "__cast", m, k, bits,
            keep_cols=["__orig"] + ([part_col] if part_col else []),
            null_is_orphan=True)
        # report the ORIGINAL value for uncastable keys (the cast is null);
        # string-typed __child is fine downstream (groupBy + cast-to-string)
        orphans = probe.select(
            F.coalesce(F.col("__child").cast("string"),
                       F.col("__orig").cast("string")).alias("__child"),
            *([F.col(part_col)] if part_col else []))
        orphans._dcspark_broadcast = probe._dcspark_broadcast
        diagnostics = {"approx": True, "bloom_bytes": m // 8,
                       "bloom_fpp": fpp, "parent_keys_est": n_b}
        return orphans, diagnostics

    # -- transcript equality vs oracle reference (join check) ------------------

    def _join_equality_compute(self, model_name: str, df: DataFrame, chk: CompiledCheck) -> dict:
        p = chk.params
        ref = self.tables.get(p["ref_model"])
        if ref is None:
            return {"error": f"reference table {p['ref_model']} not provided"}
        key, child_col, ref_col = p["key"], p["child_col"], p["ref_col"]
        if key not in df.columns or child_col not in df.columns or key not in ref.columns or ref_col not in ref.columns:
            return {"error": "join/compare column missing"}
        part_col = PART_KEY if (self._partition_col(df)
                                and self.config.partition_col not in (key, child_col)) else None
        # inner equi-join on the key (rows absent from the reference are the
        # referential check's concern, not equality's); null-safe inequality;
        # the partition column rides along for per-partition attribution
        child_sel = [F.col(key).alias("__k"), F.col(child_col).alias("__child")]
        if part_col:
            child_sel.append(F.col(part_col))
        joined = df.select(*child_sel).join(
            ref.select(F.col(key).alias("__k"), F.col(ref_col).alias("__ref")),
            on="__k", how="inner",
        )
        # mismatching rows only — persist across the count and the capped
        # sample so a FAILING equality check doesn't re-run the key join of
        # two corpus-sized tables (the same single-scan-on-fail guarantee as
        # unique/group/reference; gated in tests/test_single_scan_on_fail.py)
        mismatch = joined.filter(
            ~F.col("__child").eqNullSafe(F.col("__ref"))
        ).persist(StorageLevel.MEMORY_AND_DISK)
        try:
            metric = float(mismatch.count())
            part_metrics = None
            if part_col:
                part_metrics = {
                    r[part_col]: float(r["n"])
                    for r in mismatch.groupBy(part_col)
                    .agg(F.count(F.lit(1)).alias("n")).collect()
                }
            vio_rows = None
            if metric > 0:
                # a total order before the cap: the sample must not depend
                # on shuffle partitioning
                order = ["__k", "__child", "__ref"] + ([part_col] if part_col else [])
                vio = self._violation_frame(
                    mismatch.orderBy(*order).limit(self.config.violation_cap), chk.key,
                    F.col("__k").cast("string"), F.col("__child").cast("string"),
                    F.concat(F.lit("ref: "), F.col("__ref").cast("string")),
                    F.col(part_col) if part_col else None)
                vio_rows = vio.collect()
        finally:
            mismatch.unpersist()
        return {"metric": metric, "vio_rows": vio_rows,
                "part_metrics": part_metrics}

    # -- SQL quality ----------------------------------------------------------

    def _sql_compute(self, model_name: str, df: DataFrame, chk: CompiledCheck) -> dict:
        query = chk.params.get("query")
        if not query:
            return {"error": "no query"}
        try:
            row = self.spark.sql(query).first()
            metric = None if row is None else float(row[0])
        except Exception as e:  # surfaced as error check, not crash (soda parity)
            return {"error": f"query failed: {e}"}
        return {"metric": metric}

    # -- checkpoint / resume ---------------------------------------------------

    def _manifest_path(self, model_name: str) -> str:
        key = f"{self.spec.id or 'contract'}__{model_name}"
        return os.path.join(self.config.checkpoint_dir, f"manifest__{key}.jsonl")

    def _partition_lineage(
        self, df: DataFrame, partition_col: str,
    ) -> Dict[str, Dict[str, Any]]:
        """{partition key: {"files": n, "sig": md5-of-sorted-file-list}} via a
        column-pruned scan of (partition key, input_file_name()) distinct
        pairs — per-partition provenance for the checkpoint manifest (north
        rule: "per-partition lineage + metrics"). In-memory frames (no
        files) yield a single empty name, which is stable across runs."""
        import hashlib

        rows = (
            df.select(drift_mod.partition_key(partition_col).alias("p"),
                      F.input_file_name().alias("f"))
            .distinct().collect()
        )
        by_part: Dict[str, List[str]] = {}
        for r in rows:
            by_part.setdefault(r["p"], []).append(r["f"])
        return {
            p: {
                "files": len([f for f in fs if f]),
                "sig": hashlib.md5("\n".join(sorted(fs)).encode()).hexdigest(),
            }
            for p, fs in by_part.items()
        }

    def _state_sig(self, model_name: str, spec: "_ScanSpec") -> str:
        """Signature of the check configuration whose per-partition state a
        manifest record holds: a record written under a DIFFERENT
        configuration (metric set, audio rules, percentile mode/columns,
        drift features) cannot be merged — its missing state would silently
        read as zero — so such partitions are rescanned on resume."""
        import hashlib

        return hashlib.md5(json.dumps({
            # ops covers every merged alias INCLUDING the drift bucket
            # aliases (which join ops but not exprs); the drift/feat entries
            # additionally hash the snapshot CONTENT — a rebuilt snapshot
            # with the same grid size but shifted edges (or reordered
            # categories) must also invalidate, not merge misaligned bins
            "aliases": sorted(spec.ops),
            # the alias alone can't see a SEMANTIC change that keeps the name
            # — e.g. a per-check `filter:` added to a field constraint, or an
            # edited bound — so the expression trees themselves join the
            # signature (their reprs are deterministic unresolved-plan text)
            "exprs": sorted((k, str(v)) for k, v in spec.exprs.items()),
            "audio": spec.audio_chk.key if spec.audio_chk is not None else None,
            "feat_bins": spec.feat_bins,
            "feat_limits": spec.feat_limits,
            # a changed transcript column changes every rate metric; the
            # manifest's per-partition counts cannot be merged across it
            "rate_text_col": spec.rate_text_col,
            "pctl_cols": spec.pctl_cols,
            # sketch configs: manifest HLL sketches of a different lgConfigK
            # would make hll_union_agg throw on resume, and t-digests of a
            # different delta would merge at the wrong compression — both are
            # state-compatibility parameters, so a change invalidates and
            # rescans instead of failing the merged run
            "hll_lgk": self.config.unique_hll_lgk,
            "tdigest_delta": td_mod.DEFAULT_DELTA,
            # sampled partitions can never merge with full ones (or with a
            # different fraction/seed's panel); same for a changed dataset
            # filter — a different slice is a different table
            "sample": [self.config.sample_fraction, self.config.sample_seed],
            "dataset_filter": [
                getattr(self.spec.models.get(model_name), "filter", None),
                self.config.model_where.get(model_name),
            ],
            "drift": [
                {"p": j["prefix"], "m": j["method"],
                 "s": {k: j["stats"].get(k) for k in
                       ("bin_edges", "quantiles", "categories", "bin_probs")}}
                for j in spec.drift_jobs
            ],
        }, sort_keys=True, default=str).encode()).hexdigest()

    def _checkpointed_states(
        self, model_name: str, frame: DataFrame, spec: "_ScanSpec", part_col: str,
    ) -> Dict[str, "_PartState"]:
        """Per-partition states of a checkpointed run, through a resume
        manifest (one JSONL record per completed partition, FIXTURES.md §4).

        On resume, a partition whose latest record was written under this
        check configuration (``state_sig``) and whose input files are
        unchanged (``lineage``, re-probed by a column-pruned scan) loads its
        state from the record; every other partition is scanned by
        ``_scan_partitions``, in ``checkpoint_chunks`` chunks of partitions,
        and each chunk's states are appended to the manifest as it completes.
        All states are decomposable, so the fold of a resumed run equals a
        fresh run's. Percentile t-digests are part of the state, so sketch
        mode never rereads completed partitions (exact GK mode's global pass
        does)."""
        os.makedirs(self.config.checkpoint_dir, exist_ok=True)
        manifest = self._manifest_path(model_name)
        state_sig = self._state_sig(model_name, spec)
        parts = sorted(r[0] for r in frame.select(PART_KEY).distinct().collect())
        done: Dict[str, dict] = {}
        if self.config.resume and os.path.exists(manifest):
            with open(manifest, "r", encoding="utf-8") as f:
                for line in f:
                    rec = json.loads(line)
                    if rec.get("status") == "done":
                        done[rec["partition_id"]] = rec
            stale = sorted(
                p for p, rec in done.items()
                if p in parts and rec.get("state_sig") != state_sig)
            if stale:
                self.run.log_warn(
                    f"checkpoint: {len(stale)} completed partition(s) were "
                    "recorded under a different check configuration — "
                    f"rescanning {stale[:5]}{'...' if len(stale) > 5 else ''}")
            # records of partitions the table no longer has are not merged
            done = {p: done[p] for p in parts
                    if p in done and p not in stale}
        if done:
            # stale-checkpoint detection: a completed partition whose input
            # file set changed since the manifest was written must NOT serve
            # its recorded state
            current = self._partition_lineage(
                frame.filter(F.col(PART_KEY).isin(list(done))), PART_KEY)
            for pid in list(done):
                rec_lin = done[pid].get("lineage")
                if rec_lin is not None and rec_lin != current.get(pid):
                    self.run.log_warn(
                        f"checkpoint: partition {pid} input files changed since "
                        f"manifest (was {rec_lin}, now {current.get(pid)}) — rescanning")
                    del done[pid]
        states = {pid: _PartState.from_record(pid, rec) for pid, rec in done.items()}
        todo = [p for p in parts if p not in done]
        size = max(1, math.ceil(len(todo) / max(1, self.config.checkpoint_chunks)))
        self.run.log_info(
            f"checkpoint: {len(done)}/{len(parts)} partitions already complete; "
            f"{len(todo)} to scan in {math.ceil(len(todo) / size)} chunk(s)"
        )
        for i in range(0, len(todo), size):
            chunk = frame.filter(F.col(PART_KEY).isin(todo[i:i + size]))
            scanned, _ = self._scan_partitions(chunk, spec, part_col)
            lineage = self._partition_lineage(chunk, PART_KEY)
            with open(manifest, "a", encoding="utf-8") as f:
                for pid, st in scanned.items():
                    f.write(json.dumps({
                        "run_id": self.run.runId,
                        "partition_id": pid,
                        "status": "done",
                        **st.record(),
                        "lineage": lineage.get(pid),
                        "state_sig": state_sig,
                        "ts": dt.datetime.now(dt.timezone.utc).isoformat(),
                    }) + "\n")
            states.update(scanned)
        return states

    # -- result recording -------------------------------------------------------

    def _record_result(self, chk: CompiledCheck, res: dict) -> None:
        """Record one compute result dict: ``error`` -> an error row; else
        ``metric`` judged by ``chk.eval_metric`` or, for kinds with a family
        reason text, by the check's ``evaluator`` or zero-is-pass, with
        ``rows`` as row count and ``diagnostics`` passed on. Partitions in
        ``part_metrics`` WITH violations get their own row — the "which
        ingest partition went bad" answer; clean ones are covered by the
        global row (enumerating them would need another scan).
        ``vio_rows`` go to the violations."""
        if "error" in res:
            self._record(chk, None, ResultEnum.error, res["error"], None)
            return
        metric = res["metric"]
        fail = _FAMILY_OF[chk.kind].fail.get(chk.kind)
        if fail is None:
            result, reason = chk.eval_metric(metric, {})
        elif chk.params.get("evaluator") is not None:
            result, reason = chk.params["evaluator"](metric, {})
        elif metric == 0:
            result, reason = ResultEnum.passed, None
        else:
            result = ResultEnum.failed
            reason = f"{chk.name}: " + fail.format(n=int(metric), p=chk.params)
        self._record(chk, metric, result, reason, res.get("rows"),
                     diagnostics=res.get("diagnostics"))
        for pid, pm in sorted((res.get("part_metrics") or {}).items()):
            if pm > 0:
                pres, preason = chk.eval_metric(pm, {})
                self._record(chk, pm, pres, preason, None, partition_id=pid)
        if res.get("vio_rows"):
            self._add_violations(res["vio_rows"])

    def _record(
        self,
        chk: CompiledCheck,
        metric: Optional[float],
        result: ResultEnum,
        reason: Optional[str],
        row_count: Optional[int],
        partition_id: Optional[str] = None,
        diagnostics: Optional[Dict[str, Any]] = None,
    ) -> None:
        if partition_id is None:
            # global rollup -> a Check on the Run (parity with reference fold)
            self.run.checks.append(Check(
                id=chk.key,
                key=chk.key,
                category=chk.category,
                type=chk.check_type,
                name=chk.name,
                model=chk.model,
                field=chk.field,
                engine="dcspark",
                language="spark",
                implementation=chk.implementation,
                result=result,
                reason=(reason if reason is not None
                        else (f"evaluated on a {self.config.sample_fraction:g} "
                              "deterministic sample (bounds, not certifies)"
                              if self.config.sample_fraction is not None
                              and result == ResultEnum.passed else None)),
                diagnostics=(diagnostics or {})
                | ({"metric": metric} if metric is not None else {})
                | ({"sample_fraction": self.config.sample_fraction}
                   if self.config.sample_fraction is not None else {}),
            ))
            self._metrics[chk.key] = metric
        now = dt.datetime.now(dt.timezone.utc)
        self._results_rows.append({
            "run_id": self.run.runId,
            "partition_id": partition_id,
            "model": chk.model,
            "field": chk.field,
            "check_key": chk.key,
            "check_type": chk.check_type,
            "category": chk.category,
            "engine": "dcspark",
            "result": result.value,
            "metric_value": float(metric) if metric is not None else None,
            "threshold": chk.expected,
            "reason": reason,
            "row_count": int(row_count) if row_count is not None else None,
            "ts_start": self.run.timestampStart,
            "ts_end": now,
        })


class _ConfScope:
    """Temporarily set Spark SQL confs (restored on exit)."""

    def __init__(self, spark: SparkSession, confs: Dict[str, str]):
        self.spark = spark
        self.confs = confs
        self.saved: Dict[str, Optional[str]] = {}

    def __enter__(self):
        for k, v in self.confs.items():
            try:
                self.saved[k] = self.spark.conf.get(k)
            except Exception:
                self.saved[k] = None
            self.spark.conf.set(k, v)
        return self

    def __exit__(self, *exc):
        for k, old in self.saved.items():
            if old is None:
                self.spark.conf.unset(k)
            else:
                self.spark.conf.set(k, old)
        return False


def _metrics_to_json(row: Dict[str, Any]) -> str:
    import base64

    out = {}
    for k, v in row.items():
        if isinstance(v, (dt.datetime, dt.date)):
            out[k] = {"__ts__": v.isoformat()}
        elif isinstance(v, (bytes, bytearray)):
            # e.g. the approx-unique HLL sketch: mergeable binary state
            out[k] = {"__b64__": base64.b64encode(bytes(v)).decode("ascii")}
        else:
            out[k] = v
    return json.dumps(out)


def _json_to_metrics(blob: str) -> Dict[str, Any]:
    import base64

    raw = json.loads(blob)
    out: Dict[str, Any] = {}
    for k, v in raw.items():
        if isinstance(v, dict) and "__ts__" in v:
            try:
                out[k] = dt.datetime.fromisoformat(v["__ts__"])
            except ValueError:
                out[k] = None
        elif isinstance(v, dict) and "__b64__" in v:
            out[k] = base64.b64decode(v["__b64__"])
        else:
            out[k] = v
    return out


def validate(
    spark: SparkSession,
    spec: DataContractSpecification,
    tables: Dict[str, DataFrame],
    config: Optional[ValidationConfig] = None,
) -> ValidationResult:
    return Validator(spark, spec, tables, config).validate()
