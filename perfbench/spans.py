"""Spans recorded by the benchmark around calls into the engine's modules,
and the in-process replay of the Python decode kernels.

Spans live in memory and are written out with the run's artifact. A span's
self time is its duration minus the time its child spans cover.
"""

from __future__ import annotations

import contextlib
import time
from collections import defaultdict
from typing import Dict, List, Optional

import numpy as np


class Tracer:
    def __init__(self) -> None:
        self.spans: List[dict] = []
        self._stack: List[int] = []

    @contextlib.contextmanager
    def span(self, name: str, op: Optional[int] = None):
        """Record ``name`` as a child of the innermost open span. Yields a
        dict the caller fills with counts measured at this boundary."""
        rec = {"id": len(self.spans), "name": name, "op": op,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None, "counts": {}}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec["counts"]
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> Dict[int, float]:
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        return {s["id"]: s["end"] - s["start"] - child[s["id"]]
                for s in self.spans}


# ---------------------------------------------------------------------------
# kernel replay
# ---------------------------------------------------------------------------

# (module attribute, kernel timer) for every call the replay times
_KERNEL_CALLS = [
    ("decode", "_parse_doc_texts", "parse"),
    ("decode", "_aoi_grid", "grid"),
    ("rasterops", "decode_chunk", "synth"),
    ("rasterops", "render_band_on_grid", "resample"),
    ("nn", "run_nn", "nn"),
]


class KernelReplay:
    """Single-threaded replay of the decoder's per-document Python work over
    the same inputs Spark hands the workers, with timers wrapped around the
    kernel calls. Timers are exclusive of each other because none of the
    wrapped calls invokes another wrapped call."""

    def __init__(self) -> None:
        from satellitetools_spark import rasterops
        from satellitetools_spark.biophys import nn
        from satellitetools_spark.sources import decode
        self.modules = {"decode": decode, "rasterops": rasterops, "nn": nn}
        self.seconds = defaultdict(float)
        self.chunks_decoded = 0
        self.pixels_resampled = 0
        self.pixels_kept = 0
        self._inside = None     # inside mask of the document being decoded
        self._renders = []      # (refs, xs, ys, inside, band) per render call

    def _wrap(self, fn, timer: str):
        def timed(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                self.seconds[timer] += time.perf_counter() - t0
        return timed

    @contextlib.contextmanager
    def _patched(self):
        saved = []
        for mod, attr, timer in _KERNEL_CALLS:
            m = self.modules[mod]
            fn = getattr(m, attr)
            saved.append((m, attr, fn))
            wrapped = self._wrap(fn, timer)
            if attr == "_aoi_grid":
                wrapped = self._grid_observer(wrapped)
            elif attr == "render_band_on_grid":
                wrapped = self._render_observer(wrapped)
            elif attr == "decode_chunk":
                wrapped = self._chunk_counter(wrapped)
            setattr(m, attr, wrapped)
        try:
            yield
        finally:
            for m, attr, fn in saved:
                setattr(m, attr, fn)

    def _grid_observer(self, fn):
        def grid(*args, **kwargs):
            out = fn(*args, **kwargs)
            self._inside = out[5]
            return out
        return grid

    def _render_observer(self, fn):
        def render(band, productid, xs, ys, refs_with_payload=None):
            self.pixels_resampled += len(xs) * len(ys)
            self.pixels_kept += int(self._inside.sum())
            self._renders.append(([r for r, _ in refs_with_payload or ()],
                                  xs, ys, self._inside, band))
            return fn(band, productid, xs, ys, refs_with_payload=refs_with_payload)
        return render

    def _chunk_counter(self, fn):
        def chunk(ref):
            self.chunks_decoded += 1
            return fn(ref)
        return chunk

    def run(self, qi_input, decode_input, bands, vi_vars, snap_vars, extra,
            qi_scale: float = 20.0) -> None:
        """Replay the QI pass (per document: parse + SCL decode at the QI
        scale, as ``qi_percentages`` does) over ``qi_input`` and the phase-2
        batch decoder over ``decode_input`` (pandas frames of
        ``decode_input`` rows)."""
        decode = self.modules["decode"]
        qi_rows = qi_input.to_dict("records")
        # AOI grids are memoized per worker process and warm after the
        # first operation; warm them here too so grid_s is steady state
        for raw in qi_rows:
            meta = decode._parse_doc_texts(raw)
            for gsd in (qi_scale, meta["target_gsd"]):
                decode._aoi_grid(meta["aoi_geometry"], meta["utm_zone"], gsd)
        batch_fn = decode._make_batch_decoder(bands, None, vi_vars, snap_vars,
                                              extra)
        with self._patched():
            t0 = time.perf_counter()
            for raw in qi_rows:
                meta = decode._parse_doc_texts(raw)
                decode._decode_one(raw, ["SCL"], qi_scale, parsed=dict(meta))
            for _frame in batch_fn([decode_input]):
                pass
            self.seconds["total"] = time.perf_counter() - t0

    def chunk_touch_ratio(self) -> float:
        """Decoded chunks whose resampling support holds an inside pixel,
        over chunks decoded."""
        from satellitetools_spark.rasterops import CHUNK_PX, parse_media_ref
        touched = decoded = 0
        for refs, xs, ys, inside, band in self._renders:
            if not refs:
                continue
            decoded += len(refs)
            parsed = [parse_media_ref(r) for r in refs]
            gsd = parsed[0][3]
            cy0 = min(p[4] for p in parsed)
            cx0 = min(p[5] for p in parsed)
            jj, ii = np.nonzero(inside.reshape(len(ys), len(xs)))
            fx = (xs[ii] - cx0 * CHUNK_PX * gsd) / gsd - 0.5
            fy = (ys[jj] - cy0 * CHUNK_PX * gsd) / gsd - 0.5
            if band == "SCL":      # nearest: one support pixel
                cols, rows = [np.rint(fx)], [np.rint(fy)]
            else:                  # bilinear: 2x2 support
                cols = [np.floor(fx), np.floor(fx) + 1]
                rows = [np.floor(fy), np.floor(fy) + 1]
            need = set()
            for c in cols:
                for r in rows:
                    cc = cx0 + (c.astype(np.int64) // CHUNK_PX)
                    rr = cy0 + (r.astype(np.int64) // CHUNK_PX)
                    need.update(zip(rr.tolist(), cc.tolist()))
            touched += len(need & {(p[4], p[5]) for p in parsed})
        return touched / decoded if decoded else 0.0

    def metrics(self) -> Dict[str, float]:
        s = self.seconds
        named = sum(s[t] for _, _, t in _KERNEL_CALLS)
        return {
            "kernel.parse_s": s["parse"],
            "kernel.grid_s": s["grid"],
            "kernel.synth_s": s["synth"],
            "kernel.resample_s": s["resample"],
            "kernel.nn_s": s["nn"],
            "kernel.frame_s": s["total"] - named,
            "kernel.total_s": s["total"],
            "kernel.chunks_decoded": self.chunks_decoded,
            "kernel.pixels_resampled": self.pixels_resampled,
            "kernel.pixels_kept": self.pixels_kept,
            "kernel.pixel_keep_ratio": (self.pixels_kept / self.pixels_resampled
                                        if self.pixels_resampled else 0.0),
            "kernel.chunk_touch_ratio": self.chunk_touch_ratio(),
        }
