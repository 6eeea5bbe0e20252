"""Spans around the calls into each levi_spark module, recorded from the
benchmark's side.

``Tracer.instrument`` replaces each target function with a wrapper in
every loaded ``levi_spark`` module that binds it (so a call through
``levi_spark.api`` or from another module is seen too); class methods
are replaced on their class. A span is (id, parent, request, name,
layer, start, end); every op the benchmark times is one request, whose
root span has layer ``bench``. Spans stay in memory until ``dump``.

A layer's self time is its spans' durations minus the time covered by
their child spans (calls are synchronous, so children never overlap).
"""

from __future__ import annotations

import functools
import importlib
import json
import sys
import time
from contextlib import contextmanager

# (module, qualified name) of every call the benchmark traces; the layer
# is the module path below ``levi_spark``.
TARGETS = [
    ("levi_spark.delta.log", "DeltaLog.snapshot"),
    ("levi_spark.delta.log", "DeltaLog.latest_version"),
    ("levi_spark.delta.log", "Snapshot.live_adds_collected"),
    ("levi_spark.delta.log", "Snapshot.live_adds_raw"),
    ("levi_spark.delta.log", "Snapshot.add_actions"),
    ("levi_spark.delta.log", "Snapshot.to_df"),
    ("levi_spark.delta.table", "LeviTable.append"),
    ("levi_spark.delta.table", "LeviTable.overwrite"),
    ("levi_spark.delta.writer", "write_delta"),
    ("levi_spark.delta.checkpoint", "write_checkpoint"),
    ("levi_spark.operators.metadata", "skipped_stats"),
    ("levi_spark.operators.metadata", "delta_file_sizes"),
    ("levi_spark.operators.metadata", "updated_partitions"),
    ("levi_spark.operators.metadata", "latest_version"),
    ("levi_spark.operators.metadata", "pruned_scan"),
    ("levi_spark.operators.dedup", "drop_duplicates"),
    ("levi_spark.operators.dedup", "kill_duplicates"),
    ("levi_spark.operators.dedup", "drop_duplicates_pkey"),
    ("levi_spark.operators.dedup", "_targeted_loser_rewrite"),
    ("levi_spark.operators.scd", "type_2_scd_upsert"),
    ("levi_spark.operators.merge", "MergeBuilder.execute"),
    ("levi_spark.operators.layout", "compact_small_files"),
    ("levi_spark.functions.similarity", "brute_force_topk"),
    ("levi_spark.functions.similarity", "lsh_bucket_candidates"),
    ("levi_spark.queries", "exact_dedup_documents"),
    ("levi_spark.queries", "minhash_lsh_neardup"),
    ("levi_spark.queries", "doc_substring_dedup"),
]


class Tracer:
    def __init__(self):
        self.spans: list[list] = []  # [id, parent, request, name, layer, start, end]
        self._stack: list[int] = []
        self._request: int | None = None
        self._requests = 0
        self.active = False

    # -- spans --------------------------------------------------------------

    def _open(self, name: str, layer: str) -> int:
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(
            [sid, parent, self._request, name, layer, time.perf_counter(), None]
        )
        self._stack.append(sid)
        return sid

    def _close(self, sid: int) -> None:
        self.spans[sid][6] = time.perf_counter()
        self._stack.pop()

    @contextmanager
    def span(self, name: str, layer: str):
        """Span around benchmark-side work that belongs to a layer, e.g.
        materializing a DataFrame a layer returned lazily."""
        if not self.active:
            yield
            return
        sid = self._open(name, layer)
        try:
            yield
        finally:
            self._close(sid)

    def begin_request(self, name: str) -> None:
        if not self.active:
            return
        self._requests += 1
        self._request = self._requests
        self._open(name, "bench")

    def end_request(self) -> None:
        if not self.active:
            return
        self._close(self._stack[0])
        self._request = None

    # -- instrumentation ----------------------------------------------------

    def _wrap(self, fn, name: str, layer: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.active:
                return fn(*args, **kwargs)
            sid = self._open(name, layer)
            try:
                return fn(*args, **kwargs)
            finally:
                self._close(sid)

        return traced

    def instrument(self, targets=TARGETS) -> None:
        for modname, qual in targets:
            mod = importlib.import_module(modname)
            layer = modname.removeprefix("levi_spark.")
            name = f"{layer}.{qual.split('.')[-1]}"
            if "." in qual:
                cls_name, meth = qual.split(".")
                cls = getattr(mod, cls_name)
                raw = cls.__dict__[meth]
                setattr(cls, meth, self._wrap(raw, name, layer))
                continue
            fn = getattr(mod, qual)
            traced = self._wrap(fn, name, layer)
            for other in list(sys.modules.values()):
                if getattr(other, "__name__", "").startswith("levi_spark"):
                    for attr, val in list(vars(other).items()):
                        if val is fn:
                            setattr(other, attr, traced)

    # -- summaries ----------------------------------------------------------

    def durations(self, name: str) -> list[float]:
        return [s[6] - s[5] for s in self.spans if s[3] == name and s[6] is not None]

    def self_time_by_layer(self) -> dict[str, float]:
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s[1] is not None and s[6] is not None:
                child[s[1]] += s[6] - s[5]
        out: dict[str, float] = {}
        for s in self.spans:
            if s[6] is not None:
                out[s[4]] = out.get(s[4], 0.0) + (s[6] - s[5]) - child[s[0]]
        return out

    def dump(self, path: str, extra: dict) -> None:
        keys = ["id", "parent", "request", "name", "layer", "start", "end"]
        with open(path, "w") as f:
            json.dump(
                {
                    **extra,
                    "self_time_s_by_layer": self.self_time_by_layer(),
                    "spans": [dict(zip(keys, s)) for s in self.spans],
                },
                f,
            )
