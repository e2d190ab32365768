"""The benchmark's workloads: seeded inputs, the operation, its output check.

Untraced operations call the engine exactly as a user does. Traced
operations run the same plan staged layer by layer, with a span around each
call into an engine module and a materialization at each boundary so the
span holds that layer's work.
"""

from __future__ import annotations

import argparse
import importlib.util
import os
import shutil
import statistics
import time
from typing import Callable, Dict, List

from pyspark.sql import functions as F

from satellitetools_spark.constants import S2_BANDS_10_20, SNAP_BIO_BANDS
from satellitetools_spark.operators.biophys_op import run_snap_all
from satellitetools_spark.operators.indices import compute_vegetation_index
from satellitetools_spark.operators.quality import select_survivors
from satellitetools_spark.operators.timeseries import dataset_to_timeseries
from satellitetools_spark.plans import flagship_timeseries
from satellitetools_spark.plans.lineage import (resume_filter, run_resumable,
                                                write_with_lineage)
from satellitetools_spark.plans.pipeline import _SNAP_NAME, _VI_BANDS, _VI_NAMES
from satellitetools_spark.sources import read_documents
from satellitetools_spark.sources.decode import (decode_documents, decode_input,
                                                 qi_percentages)

import inputs
from inputs import QI_THRESHOLD
import oracle
from spans import KernelReplay, Tracer

FLAGSHIP_VARS = ["ndvi", "lai"]
# documents drawn per AOI: 40 AOIs x 8 = 320 documents per seed
PER_AOI = 8


def _flagship_plan(variables: List[str]):
    """(vi_vars, snap_vars, bands) exactly as ``flagship_timeseries``
    derives them, for the staged replay of its plan."""
    vi_vars = [v for v in variables if v in _VI_NAMES]
    snap_vars = [_SNAP_NAME[v] for v in variables if v not in _VI_NAMES]
    need = set()
    for v in vi_vars:
        need.update(_VI_BANDS[v])
    if snap_vars:
        need.update(SNAP_BIO_BANDS)
    return vi_vars, snap_vars, [b for b in S2_BANDS_10_20 if b in need]


def _load_run_job(root: str):
    spec = importlib.util.spec_from_file_location(
        "run_job", os.path.join(root, "scripts", "run_job.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _dir_stats(*dirs: str):
    files = size = 0
    for d in dirs:
        for base, _, names in os.walk(d):
            for n in names:
                size += os.path.getsize(os.path.join(base, n))
                files += n.endswith(".parquet")
    return files, size


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _survivor_docs(docs, survivors):
    return docs.join(F.broadcast(survivors.select("doc_id")), "doc_id",
                     "left_semi")


class GeoWorkload:
    """Shared inputs and layer helpers of the geo workloads."""

    def __init__(self, root: str, data_dir: str, seed: int):
        self.root = root
        self.data_dir = data_dir
        self.seed = seed
        self.geo = None
        self.expected_rows: Dict[str, int] = {}

    # -- inputs ------------------------------------------------------------
    def prepare(self) -> None:
        self.geo = inputs.draw_geo(os.path.join(self.data_dir, "geo"),
                                   self.seed, PER_AOI)
        self.expected_rows = oracle.expected_rows_per_doc(self.geo["dir"])

    @property
    def n_docs(self) -> int:
        return len(self.geo["doc_ids"])

    @property
    def pixel_rows(self) -> int:
        """Inside-AOI pixel rows one operation decodes."""
        return sum(self.expected_rows.values())

    def docs(self, spark):
        return read_documents(spark, self.geo["paths"]["docs"])

    # -- per-layer helpers shared by the staged plans ----------------------
    def _qi_and_survivors(self, tr: Tracer, docs, k: int):
        with tr.span("qi", k) as c:
            qi = qi_percentages(docs).localCheckpoint(eager=True)
            n_qi = c["docs"] = qi.count()
        with tr.span("survivors", k) as c:
            surv = select_survivors(qi, QI_THRESHOLD).localCheckpoint(eager=True)
            c["docs"] = surv.count()
            c["ratio"] = c["docs"] / max(1, n_qi)
        return surv

    def scan_bytes(self, spark, bands) -> int:
        """Bytes the decode-input projection packs for the Python pass."""
        prep = decode_input(self.docs(spark), bands)
        return int(prep.agg(F.sum(F.length("media_refs") + F.length("texts")))
                   .first()[0])

    def kernel_replay(self, spark, bands, vi_vars, snap_vars, extra) -> dict:
        """Replay the QI pass over every drawn document and the phase-2
        decoder over the survivors, in this process, single-threaded."""
        docs = self.docs(spark)
        surv = oracle.survivor_ids(self.geo["dir"])
        qi_in = decode_input(docs, ["SCL"]).toPandas()
        px_in = decode_input(docs.filter(F.col("doc_id").isin(surv)), bands).toPandas()
        rep = KernelReplay()
        rep.run(qi_in, px_in, bands, vi_vars, snap_vars, extra)
        return rep.metrics()


class Flagship(GeoWorkload):
    """``plans.flagship_timeseries`` over the draw, checked row by row."""

    def prepare(self) -> None:
        super().prepare()
        self.expected = oracle.flagship_expected(self.geo["dir"])
        self._verdicts: Dict[int, str] = {}

    def op(self, spark) -> dict:
        rows = flagship_timeseries(self.docs(spark), FLAGSHIP_VARS).collect()
        return {"rows": [r.asDict() for r in rows]}

    def check(self, result: dict) -> str:
        rows = result["rows"]
        key = hash(tuple(tuple(sorted(r.items())) for r in rows))
        if key not in self._verdicts:
            self._verdicts[key] = oracle.check_flagship(rows, self.expected)
        return self._verdicts[key]

    def staged_op(self, spark, tr: Tracer, k: int) -> dict:
        vi_vars, snap_vars, bands = _flagship_plan(FLAGSHIP_VARS)
        docs = self.docs(spark)
        with tr.span("op", k):
            with tr.span("scan", k):
                _noop(decode_input(docs, bands))
            surv = self._qi_and_survivors(tr, docs, k)
            with tr.span("decode", k) as c:
                px = decode_documents(_survivor_docs(docs, surv), bands,
                                      vi_vars=vi_vars, snap_vars=snap_vars
                                      ).localCheckpoint(eager=True)
                c["pixel_rows"] = px.count()
            with tr.span("aggregate", k) as c:
                rows = dataset_to_timeseries(
                    px, FLAGSHIP_VARS, add_uncertainty=True,
                    add_confidence_intervals=True, confidence_level="95",
                ).orderBy("aoi", "time").collect()
                c["rows"] = len(rows)
        return {"rows": [r.asDict() for r in rows]}

    def layer_extras(self, spark) -> dict:
        vi_vars, snap_vars, bands = _flagship_plan(FLAGSHIP_VARS)
        from satellitetools_spark.constants import BIOPHYS_COLUMN
        extra = vi_vars + [BIOPHYS_COLUMN[v] for v in snap_vars]
        out = self.kernel_replay(spark, bands, vi_vars, snap_vars, extra)
        out["scan.bytes"] = self.scan_bytes(spark, bands)
        return out


class Ingest(GeoWorkload):
    """``scripts/run_job.build_pipeline`` through ``run_resumable`` into an
    empty directory, then the same call again, which must process nothing."""

    BANDS = S2_BANDS_10_20 + ["SCL"]

    def prepare(self) -> None:
        super().prepare()
        run_job = _load_run_job(self.root)
        self.build = run_job.build_pipeline(
            argparse.Namespace(qi_threshold=QI_THRESHOLD, snap_vars="LAI"))
        self._n = 0

    def _out(self):
        self._n += 1
        out = os.path.join(self.data_dir, "ingest", f"op{self._n}")
        shutil.rmtree(os.path.dirname(out), ignore_errors=True)
        return out, out + "_lineage"

    def op(self, spark) -> dict:
        out, lin = self._out()
        t0 = time.perf_counter()
        _rid, n = run_resumable(self.docs(spark), self.build, out, lin)
        t1 = time.perf_counter()
        _rid2, n2 = run_resumable(self.docs(spark), self.build, out, lin)
        t2 = time.perf_counter()
        return {"wall": t1 - t0, "resume_s": t2 - t1, "docs": n,
                "resume_docs": n2, "out": out, "lineage": lin}

    def check(self, result: dict) -> str:
        import pyarrow.parquet as pq
        if result["docs"] != self.n_docs:
            return f"processed {result['docs']} of {self.n_docs} docs"
        if result["resume_docs"] != 0:
            return f"resume processed {result['resume_docs']} docs, want 0"
        written = pq.read_table(result["out"], columns=["doc_id"]).column(0)
        per_doc: Dict[str, int] = {}
        for d in written.to_pylist():
            per_doc[d] = per_doc.get(d, 0) + 1
        lin = pq.read_table(result["lineage"], columns=["doc_id", "n_rows"])
        lineage = dict(zip(lin.column(0).to_pylist(), lin.column(1).to_pylist()))
        if len(lineage) != lin.num_rows or lineage.keys() != self.expected_rows.keys():
            return f"lineage has {lin.num_rows} rows for {self.n_docs} docs"
        for doc, want in self.expected_rows.items():
            if lineage[doc] != want or per_doc.get(doc, 0) != want:
                return (f"doc {doc}: lineage n_rows={lineage[doc]} "
                        f"written={per_doc.get(doc, 0)} oracle={want}")
        files, size = _dir_stats(result["out"], result["lineage"])
        result.update(files=files, bytes=size)
        return "OK"

    def staged_op(self, spark, tr: Tracer, k: int) -> dict:
        out, lin = self._out()
        docs = self.docs(spark)
        with tr.span("op", k):
            with tr.span("lineage.resume_filter", k) as c:
                todo = resume_filter(docs, lin).localCheckpoint(eager=True)
                n = c["docs"] = todo.count()
            with tr.span("scan", k):
                _noop(decode_input(todo, self.BANDS))
            surv = self._qi_and_survivors(tr, todo, k)
            with tr.span("decode", k) as c:
                px = decode_documents(_survivor_docs(todo, surv), self.BANDS
                                      ).localCheckpoint(eager=True)
                c["pixel_rows"] = px.count()
            with tr.span("snap_op", k):
                px = run_snap_all(compute_vegetation_index(px, "ndvi"), ["LAI"]
                                  ).localCheckpoint(eager=True)
            with tr.span("lineage.write", k):
                write_with_lineage(px, out, lin, attempted=todo)
        t0 = time.perf_counter()
        with tr.span("resume", k):
            with tr.span("lineage.resume_filter", k) as c:
                n2 = c["docs"] = resume_filter(docs, lin).count()
        return {"wall": None, "resume_s": time.perf_counter() - t0, "docs": n,
                "resume_docs": n2, "out": out, "lineage": lin}

    def layer_extras(self, spark) -> dict:
        out = self.kernel_replay(spark, self.BANDS, [], [], [])
        out["scan.bytes"] = self.scan_bytes(spark, self.BANDS)
        return out


WORKLOADS: Dict[str, Callable[..., GeoWorkload]] = {
    "flagship": Flagship,
    "ingest": Ingest,
}


def median(xs: List[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def spark_counts(spark, group: str) -> Dict[str, int]:
    """Jobs, stages run and tasks completed under one job group."""
    st = spark.sparkContext.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = set()
    for j in jobs:
        info = st.getJobInfo(j)
        if info is not None:
            stages.update(info.stageIds)
    run, tasks = 0, 0
    for s in stages:
        info = st.getStageInfo(s)
        if info is not None and info.numCompletedTasks > 0:
            run += 1
            tasks += info.numCompletedTasks
    return {"jobs": len(jobs), "stages": run, "tasks": tasks}
