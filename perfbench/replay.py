"""The benchmark's own reading of a Delta table, independent of levi_spark.

``LogReplay`` lists ``_delta_log``, bootstraps from the newest classic
checkpoint (pyarrow) and applies commit JSONs (json) to get the live
add actions at any version. It is the oracle for the metadata
operators and the source of the outside-in counters (files and bytes
added per commit, checkpoints written, commits since checkpoint).
``read_live`` reads a version's live files with pyarrow, for the data
checks of the maintenance operators.
"""

from __future__ import annotations

import json
import os
import re
from urllib.parse import unquote

import pyarrow as pa
import pyarrow.parquet as pq

_COMMIT = re.compile(r"^(\d{20})\.json$")
_CHECKPOINT = re.compile(r"^(\d{20})\.checkpoint\.parquet$")


def expected_skipped(live: dict, filters) -> dict:
    """``skipped_stats`` semantics: a file matches iff every predicate holds
    on its min/max stats; a file without the stats does not match."""
    total = sum(a["size"] for a in live.values())
    m_files = m_bytes = 0
    for a in live.values():
        st = a["stats"] or {}
        lo, hi = st.get("minValues", {}), st.get("maxValues", {})
        ok = True
        for col, op, v in filters:
            mn, mx = lo.get(col), hi.get(col)
            if mn is None or mx is None:
                ok = False
            elif op == "=":
                ok = ok and mn <= v <= mx
            elif op in ("<", "<="):
                ok = ok and (mn < v if op == "<" else mn <= v)
            else:
                ok = ok and (mx > v if op == ">" else mx >= v)
        if ok:
            m_files += 1
            m_bytes += a["size"]
    return {
        "num_files": len(live),
        "num_files_skipped": len(live) - m_files,
        "num_bytes_skipped": total - m_bytes,
    }


def expected_file_sizes(live: dict, boundaries: list[str]) -> dict:
    """``delta_file_sizes`` over ``<Nkb`` / ``Akb-Bkb`` / ``>Nkb`` buckets
    (decimal kb, inclusive ranges; ``<`` and ``>`` exclusive)."""
    kb = lambda s: int(s.strip("<>kb")) * 1000  # noqa: E731
    out = {}
    for b in boundaries:
        if b.startswith("<"):
            lo, hi = 0, kb(b) - 1
        elif b.startswith(">"):
            lo, hi = kb(b) + 1, 10 * 10**12
        else:
            lo, hi = (kb(x) for x in b.split("-"))
        out[f"num_files_{b}"] = sum(lo <= a["size"] <= hi for a in live.values())
    return out


def _add(a: dict, version: int) -> dict:
    stats = a.get("stats")
    return {
        "path": a["path"],
        "size": int(a["size"]),
        "modificationTime": int(a["modificationTime"]),
        "stats": json.loads(stats) if stats else None,
        "deletionVector": a.get("deletionVector"),
        "version": version,
    }


class LogReplay:
    def __init__(self, table_path: str):
        self.table = table_path
        self.log = os.path.join(table_path, "_delta_log")
        self._states: dict[int, dict[str, dict]] = {}
        self._commits: dict[int, dict] = {}

    def listing(self) -> tuple[list[int], list[int]]:
        commits, cps = [], []
        for name in os.listdir(self.log):
            if m := _COMMIT.match(name):
                commits.append(int(m.group(1)))
            elif m := _CHECKPOINT.match(name):
                cps.append(int(m.group(1)))
        return sorted(commits), sorted(cps)

    def latest(self) -> int:
        return self.listing()[0][-1]

    def commit(self, v: int) -> dict:
        """File actions of commit ``v``: adds and removed paths."""
        if v not in self._commits:
            adds, removes = [], []
            with open(os.path.join(self.log, f"{v:020d}.json")) as f:
                for line in f:
                    if not line.strip():
                        continue
                    act = json.loads(line)
                    if "add" in act:
                        adds.append(_add(act["add"], v))
                    elif "remove" in act:
                        removes.append(act["remove"]["path"])
            self._commits[v] = {"adds": adds, "removes": removes}
        return self._commits[v]

    def _checkpoint_state(self, cp: int) -> dict[str, dict]:
        t = pq.read_table(os.path.join(self.log, f"{cp:020d}.checkpoint.parquet"))
        live = {}
        for a in t.column("add").to_pylist():
            if a is not None and a.get("path") is not None:
                live[a["path"]] = _add(a, cp)
        return live

    def state(self, version: int) -> dict[str, dict]:
        """Live add actions (path -> add) at ``version``."""
        if version in self._states:
            return self._states[version]
        cps = self.listing()[1]
        base = max((c for c in self._states if c < version), default=None)
        cp = max((c for c in cps if c <= version), default=None)
        if base is not None and (cp is None or base >= cp):
            live, start = dict(self._states[base]), base + 1
        elif cp is not None:
            live, start = self._checkpoint_state(cp), cp + 1
        else:
            live, start = {}, 0
        for v in range(start, version + 1):
            c = self.commit(v)
            for p in c["removes"]:
                live.pop(p, None)
            for a in c["adds"]:
                live[a["path"]] = a
        self._states[version] = live
        return live

    def checkpoint_matches(self, cp: int) -> bool:
        """The writer's checkpoint at ``cp`` holds exactly the live set
        this replay derives from the commits up to ``cp``."""
        ours = self.state(cp)
        theirs = self._checkpoint_state(cp)
        return {p: a["size"] for p, a in ours.items()} == {
            p: a["size"] for p, a in theirs.items()
        }

    def commits_since_checkpoint(self, version: int) -> int:
        cps = [c for c in self.listing()[1] if c <= version]
        return version - (cps[-1] if cps else -1)

    def live_bytes(self, version: int) -> int:
        return sum(a["size"] for a in self.state(version).values())

    def added_between(self, v0: int, v1: int) -> tuple[int, int, int]:
        """(files added, bytes added, files removed) by commits v0+1..v1."""
        files = size = removed = 0
        for v in range(v0 + 1, v1 + 1):
            c = self.commit(v)
            files += len(c["adds"])
            size += sum(a["size"] for a in c["adds"])
            removed += len(c["removes"])
        return files, size, removed

    def read_live(self, version: int, columns: list[str]) -> pa.Table:
        """Columns of every live file at ``version`` (the benchmark's tables
        are unpartitioned and carry no deletion vectors)."""
        parts = []
        for a in self.state(version).values():
            if a["deletionVector"] is not None:
                raise ValueError("deletion vectors are outside the replay's scope")
            parts.append(
                pq.read_table(os.path.join(self.table, unquote(a["path"])), columns=columns)
            )
        return pa.concat_tables(parts) if parts else None
