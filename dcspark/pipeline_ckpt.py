"""Stage-boundary checkpoint/resume for the long-running corpus operators.

The validation engine already resumes from a per-partition manifest
(``dcspark/engine.py`` checkpoint path); this module gives the corpus
operators — MinHash near-dup, duplicate spans, n-gram decontamination and
the audio/image/video fingerprint near-dup and decontam operators, the jobs
that at 10^12 rows run for hours — the same property at STAGE granularity.

Each operator defines its stages once and runs every stage through
:class:`Stages`, whatever the mode:

- ``checkpoint=None`` (one-shot): a stage is its builder's frame, so the
  operator runs and caches exactly what it always did;
- ``checkpoint=<dir>``: each stage materializes to parquet under the
  directory with a signature manifest (operator parameters + input
  lineage). A restarted job re-reads completed stages instead of
  recomputing them; a changed parameter or changed input invalidates
  exactly the stages whose signature names it.

Pure row filters (score thresholds, ``min_matches``) apply AFTER the last
stage in both modes, so one checkpointed stage serves any threshold sweep
and the two modes return identical rows.

Input lineage signs the source files AND the frame's analyzed plan, so a
resume over the same files with a different projection, rename or filter
rebuilds its stages instead of serving the old frame's output; an input
with no files (an in-memory frame) is signed by its content too.

Why stage-level (not partition-level like the engine): the dedup/decontam
shapes are shuffle pipelines — candidates, verification, report — whose
natural recovery points are the stage boundaries, which also truncate the
shuffle lineage (the same reason one would ``df.checkpoint()`` — but durable
across driver restarts, which ``checkpoint()`` is not).

Reference parity note: the reference CLI has no resumable pipelines at all
(each ``datacontract test`` run is one-shot); this exceeds it, per the
north-star requirement "resumable from a checkpoint manifest".
"""

from __future__ import annotations

import hashlib
import json
import os
import re
from typing import Any, Callable, Dict, List, Optional

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import MapType

#: expression ids (``text#12``, ``doc_id#3L``) differ between two reads of
#: the same path; they are stripped before the plan is signed
_EXPR_ID = re.compile(r"#\d+L?")


def input_lineage(df: DataFrame) -> Dict[str, Any]:
    """File count, md5 of the sorted source-file list, and md5 of the
    frame's analyzed plan with expression ids stripped.

    The files alone cannot tell two frames over the same files apart: a
    different projection, rename or filter would resume into the other
    frame's stages. ``semanticHash()`` is not used because it is not stable
    across JVMs. A frame with no files (createDataFrame, a generated
    source) has a plan that names no data, so its content is signed as
    well: its row count and the order-independent sum of one xxhash64 per
    row (one scan of the input)."""
    files = sorted(df.inputFiles())
    plan = _EXPR_ID.sub("", df._jdf.queryExecution().analyzed().toString())
    sig = {
        "files": len(files),
        "sig": hashlib.md5("\n".join(files).encode()).hexdigest()
        if files else "none",
        "plan": hashlib.md5(plan.encode()).hexdigest(),
    }
    if not files:
        # xxhash64 cannot hash a map; its JSON form carries the same data
        cols = [F.to_json(F.col(f.name)) if isinstance(f.dataType, MapType)
                else F.col(f.name) for f in df.schema.fields]
        rows, total = df.select(
            F.count(F.lit(1)),
            F.sum(F.xxhash64(*cols).cast("decimal(20,0)"))).first()
        sig["content"] = f"{rows}:{total}"
    return sig


class StageCheckpoint:
    """Materialize named pipeline stages to parquet, keyed by a signature.

    ``signature`` is a JSON-able dict of everything the stage outputs depend
    on (operator parameters + input lineage). ``stage(name, builder)`` runs
    ``builder()`` and writes its frame to ``<dir>/<name>`` — unless a
    completed run of the same name under the SAME signature already exists,
    in which case the parquet is read back and the builder never runs.
    Writing is atomic at stage granularity: the manifest is written only
    after the parquet write commits (_SUCCESS), so a job killed mid-stage
    rebuilds that stage and that stage only.
    """

    def __init__(self, spark: SparkSession, ckpt_dir: str, signature: Dict[str, Any]):
        self.spark = spark
        self.dir = ckpt_dir
        self.sig = hashlib.md5(
            json.dumps(signature, sort_keys=True, default=str).encode()
        ).hexdigest()
        os.makedirs(ckpt_dir, exist_ok=True)

    def _meta_path(self, name: str) -> str:
        return os.path.join(self.dir, f"{name}.manifest.json")

    def _data_path(self, name: str) -> str:
        return os.path.join(self.dir, name)

    def completed(self, name: str) -> bool:
        meta = self._meta_path(name)
        if not os.path.exists(meta):
            return False
        try:
            with open(meta, "r", encoding="utf-8") as f:
                rec = json.load(f)
        except (OSError, ValueError):
            return False
        return (
            rec.get("signature") == self.sig
            and rec.get("status") == "done"
            and os.path.exists(os.path.join(self._data_path(name), "_SUCCESS"))
        )

    def stage(self, name: str, builder: Callable[[], DataFrame]) -> DataFrame:
        """Return the stage's frame, from checkpoint if completed under this
        signature, else by running ``builder`` and persisting its output."""
        data = self._data_path(name)
        if self.completed(name):
            return self.spark.read.parquet(data)
        # invalidate the OLD manifest before touching the data dir: a crash
        # between the parquet overwrite and the manifest rewrite must leave
        # the stage incomplete, not serve the new parameters' parquet under
        # the old signature (parameter sweeps alternate signatures against
        # one checkpoint dir, so this window is real, not theoretical)
        meta = self._meta_path(name)
        if os.path.exists(meta):
            os.remove(meta)
        df = builder()
        df.write.mode("overwrite").parquet(data)
        # the builder's operator may have persisted internal frames to keep
        # its decode single-pass; the parquet is now the durable copy, so
        # release them (long sweeps would otherwise accumulate cached blocks)
        release_caches(df)
        with open(self._meta_path(name), "w", encoding="utf-8") as f:
            json.dump({"signature": self.sig, "status": "done", "stage": name}, f)
        return self.spark.read.parquet(data)


def _require_signable(kwargs: Dict[str, Any]) -> Dict[str, Any]:
    """Reject kwargs whose values cannot be JSON-signed (functions, objects).

    ``json.dumps(..., default=str)`` would embed their repr — which carries a
    memory address for functions — so the signature would differ in every
    process and the checkpoint would silently never resume (every run would
    re-decode, invisibly, with correct output)."""
    for k, v in kwargs.items():
        try:
            json.dumps(v)
        except (TypeError, ValueError):
            raise ValueError(
                f"checkpointed run cannot sign parameter {k}={v!r}: only "
                "JSON-serializable parameters can participate in a "
                "checkpoint signature (a custom decoder/callable cannot — "
                "run the operator without checkpoint=)")
    return dict(sorted(kwargs.items()))


def release_caches(df: DataFrame) -> None:
    """Unpersist the internal frames an operator cached while building ``df``.

    Operators that must evaluate their (decode-expensive) input exactly once
    persist an internal hash frame and tag the returned DataFrame with the
    handles (``_dcspark_cached``); once the result is consumed/materialized,
    callers on a long-lived session release them here — otherwise each call
    leaks MEMORY_AND_DISK blocks until session end (Spark's CacheManager does
    not GC Dataset caches)."""
    for cached in getattr(df, "_dcspark_cached", ()):
        cached.unpersist()


class Stages:
    """The stages of one corpus-operator run, defined once for both modes.

    ``stages(name, builder, **sig)`` returns ``builder()`` as is when
    ``checkpoint`` is None; otherwise it is :meth:`StageCheckpoint.stage`
    under the signature ``{**base, **sig}``, in which a DataFrame value
    signs as its :func:`input_lineage`. Each stage names only what its
    output depends on (per-side lineage, decode vs join parameters), so a
    changed parameter invalidates exactly the stages it affects.
    """

    def __init__(self, checkpoint: Optional[str], spark: SparkSession,
                 **base: Any):
        self.dir = checkpoint
        self.spark = spark
        self.base = base
        self.cached: List[DataFrame] = []

    def __call__(self, name: str, builder: Callable[[], DataFrame],
                 **sig: Any) -> DataFrame:
        if self.dir is None:
            df = builder()
            self.cached += getattr(df, "_dcspark_cached", ())
            return df
        signature = {k: input_lineage(v) if isinstance(v, DataFrame) else v
                     for k, v in {**self.base, **sig}.items()}
        return StageCheckpoint(self.spark, self.dir,
                               _require_signable(signature)).stage(name, builder)

    def persist(self, df: DataFrame) -> DataFrame:
        """Persist a stage frame that later stages read several times — in a
        one-shot run only: a checkpointed stage is read back from its
        parquet instead."""
        if self.dir is None:
            df = df.persist(StorageLevel.MEMORY_AND_DISK)
            self.cached.append(df)
        return df

    def result(self, out: DataFrame, *shared: DataFrame) -> DataFrame:
        """Return the operator's result. One-shot: tagged with every cache
        handle its stages and the ``shared`` frames hold (free them with
        :func:`release_caches` once consumed). Checkpointed: the stages are
        durable parquet already, so ``shared`` is released here."""
        if self.dir is None:
            out._dcspark_cached = self.cached + list(shared)
        else:
            for df in shared:
                df.unpersist()
        return out
