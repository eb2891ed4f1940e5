"""Pure-Python reference model of what the engine should return.

Built from the generator's own corpus, never from engine output: the import
model replays the reference importer's MERGE rules (last write wins in
batch, file, stage, item order) over the analysis documents, and the query
models answer the analyst requests by plain set arithmetic and BFS over the
modelled tables.  Checks compare engine rows against these answers after
the timed window.
"""

from __future__ import annotations

import hashlib
from collections import defaultdict


def string_uid(value: str) -> str:
    return "str:" + hashlib.sha256(value.rstrip("\x00").encode()).hexdigest()


def _fmt(ad: str) -> str:
    return f"0x{int(ad, 16):x}"


def _format(t: str) -> str:
    u = t.upper()
    return "PE" if "PE" in u else "Elf" if "ELF" in u else "MachO" if "MACH" in u else "PE"


_CALL_TYPES = {"indirect": "Indirect", "virtual": "Virtual", "tail": "Tail"}


class GraphModel:
    """The ten warehouse tables after importing ``batches`` in order."""

    def __init__(self) -> None:
        self.binaries: dict[str, tuple] = {}
        self.functions: dict[str, tuple] = {}  # uid -> (name, type, address, size)
        self.strings: dict[str, str] = {}
        self.libraries: set[str] = set()
        self.contains: set[tuple] = set()
        self.imports: dict[tuple, str] = {}
        self.imports_library: set[tuple] = set()
        self.belongs_to: set[tuple] = set()
        self.calls: dict[tuple, tuple] = {}  # (src, dst) -> (offset, call_type)
        self.contains_string: set[tuple] = set()

    def ingest(self, docs: list[dict]) -> None:
        """One ``Engine.ingest`` batch; ``docs`` in file-name order."""
        for doc in docs:
            bi = doc["binary_info"]
            h = bi["hashes"]["sha256"]
            self.binaries[h] = (
                bi["name"], bi["file_path"], bi["file_size"],
                _format(bi["file_type"]["type"]), bi["file_type"]["architecture"],
            )
            amap: dict[str, str] = {}
            for f in doc["functions"]:
                a = _fmt(f["address"])
                uid = f"{h}:{a}"
                self.functions[uid] = (f["name"], "Internal", a, f["size"])
                self.contains.add((h, uid))
                amap[a] = uid
            for im in doc["imports"]:
                lib = im["library"].lower()
                uid = f"imp:{lib}:{im['name']}"
                self.functions[uid] = (im["name"], "Import", "", -1)
                self.libraries.add(lib)
                self.imports[(h, uid)] = _fmt(im["address"])
                self.imports_library.add((h, lib))
                self.belongs_to.add((uid, lib))
                amap[_fmt(im["address"])] = uid  # imports overwrite functions
            for ex in doc["exports"]:
                a = _fmt(ex["address"])
                self.functions[f"{h}:{a}"] = (ex["name"], "Export", a, -1)
                amap.setdefault(a, f"{h}:{a}")  # only-if-absent
            for s in doc["strings"]:
                v = s["value"].rstrip("\x00")
                uid = string_uid(v)
                self.strings[uid] = v
                self.contains_string.add((h, uid, _fmt(s["address"])))
            for c in doc["calls"]:
                src, dst = amap.get(_fmt(c["from_address"])), amap.get(_fmt(c["to_address"]))
                if src is None or dst is None:
                    continue  # unresolved: skipped, as the importer does
                self.calls[(src, dst)] = (c["offset"], _CALL_TYPES.get(c["type"].lower(), "Direct"))

    def table_rows(self) -> dict[str, list[dict]]:
        """Every table as rows keyed by column name (the warehouse schema)."""
        return {
            "binaries": [dict(zip(("hash", "filename", "file_path", "file_size", "format", "arch"), (h, *v)))
                         for h, v in self.binaries.items()],
            "functions": [dict(zip(("uid", "name", "type", "address", "size"), (u, *v)))
                          for u, v in self.functions.items()],
            "strings": [{"uid": u, "value": v} for u, v in self.strings.items()],
            "libraries": [{"name": n} for n in self.libraries],
            "contains": [{"binary_hash": b, "function_uid": f} for b, f in self.contains],
            "imports": [{"binary_hash": b, "function_uid": f, "address": a} for (b, f), a in self.imports.items()],
            "imports_library": [{"binary_hash": b, "library_name": l} for b, l in self.imports_library],
            "belongs_to": [{"function_uid": f, "library_name": l} for f, l in self.belongs_to],
            "calls": [{"src_uid": s, "dst_uid": d, "offset": o, "call_type": t}
                      for (s, d), (o, t) in self.calls.items()],
            "contains_string": [{"binary_hash": b, "string_uid": s, "address": a}
                                for b, s, a in self.contains_string],
        }

    # ------------------------------------------------------------ queries
    def counts(self) -> dict[str, int]:
        return {
            "binaries": len(self.binaries), "functions": len(self.functions),
            "strings": len(self.strings), "libraries": len(self.libraries),
            "contains": len(self.contains), "imports": len(self.imports),
            "imports_library": len(self.imports_library),
            "belongs_to": len(self.belongs_to), "calls": len(self.calls),
            "contains_string": len(self.contains_string),
        }

    def _adj(self, direction: str) -> dict[str, list[str]]:
        key = "_adj_" + direction
        if not hasattr(self, key):
            adj = defaultdict(list)
            for s, d in self.calls:
                if direction == "out":
                    adj[s].append(d)
                else:
                    adj[d].append(s)
            setattr(self, key, adj)
        return getattr(self, key)

    def seeds(self, fn: str) -> set[str]:
        return {u for u, v in self.functions.items() if v[0] == fn or u == fn}

    def reachable(self, fn: str, direction: str, depth: int) -> set[tuple]:
        """Min-depth BFS over 1..depth hops; the seed itself is reported
        when a cycle returns to it (Cypher ``*1..N`` semantics)."""
        adj = self._adj(direction)
        frontier, visited, out = self.seeds(fn), set(), set()
        for d in range(1, depth + 1):
            nxt = {t for f in frontier for t in adj.get(f, ())} - visited
            if not nxt:
                break
            out |= {(u, d) for u in nxt}
            visited |= nxt
            frontier = nxt
        return out

    def paths(self, fn: str, depth: int) -> dict[tuple, int]:
        """Multiset of (start, end, length) over every relationship-unique
        outgoing path of length 1..depth."""
        adj = self._adj("out")
        out: dict[tuple, int] = defaultdict(int)

        def walk(start, cur, used, n):
            if n == depth:
                return
            for t in adj.get(cur, ()):
                if (cur, t) in used:
                    continue
                out[(start, t, n + 1)] += 1
                used.add((cur, t))
                walk(start, t, used, n + 1)
                used.discard((cur, t))

        for s in self.seeds(fn):
            walk(s, s, set(), 0)
        return dict(out)

    def call_sequence(self, fn: str) -> list[tuple]:
        """(function_uid, peer_uid, offset) ordered by raw offset string."""
        seeds = self.seeds(fn)
        rows = [(s, d, self.calls[(s, d)][0]) for (s, d) in self.calls if s in seeds]
        return sorted(rows, key=lambda r: (r[0], r[2], r[1]))

    def xref(self, address: str) -> set[tuple]:
        a = _fmt(address)
        return {
            (s, d) for (s, d) in self.calls
            if self.functions[s][2] == a or self.functions[d][2] == a
        }

    def search_strings(self, pattern: str, limit: int = 100) -> list[tuple]:
        """(uid, score, sample_count) top-``limit`` by (score desc, uid)."""
        toks = [t.lower() for t in pattern.split()]
        bins = defaultdict(set)
        for h, su, _a in self.contains_string:
            bins[su].add(h)
        hits = []
        for uid, v in self.strings.items():
            lv = v.lower()
            if all(t in lv for t in toks) and bins[uid]:
                hits.append((uid, float(sum(lv.count(t) for t in toks)), len(bins[uid])))
        hits.sort(key=lambda r: (-r[1], r[0]))
        return hits[:limit]

    def search_functions(self, pattern: str, limit: int = 100) -> list[str]:
        return sorted(
            u for u, v in self.functions.items() if pattern in v[0] or pattern in u
        )[: min(100, limit)]

    def binary_functions(self, h: str) -> int:
        return sum(1 for b, _ in self.contains if b == h)

    def library_functions(self, lib: str) -> int:
        return sum(1 for _, l in self.belongs_to if l == lib)

    def duplicate_names(self) -> set[tuple]:
        """(sha256(name), n_functions, min uid) for names shared by several
        function nodes -- ``exact_dedup_groups`` keyed on the name."""
        groups: dict[str, list[str]] = defaultdict(list)
        for uid, v in self.functions.items():
            groups[hashlib.sha256(v[0].encode()).hexdigest()].append(uid)
        return {(h, len(us), min(us)) for h, us in groups.items() if len(us) > 1}

    def callee_names(self, fn: str) -> set[str]:
        seeds = {u for u, v in self.functions.items() if v[0] == fn}
        return {self.functions[d][0] for (s, d) in self.calls if s in seeds}


# -------------------------------------------------------- call-graph model


def bfs_reach(adj: dict[int, list[int]], seeds: set[int], depth: int) -> dict[int, int]:
    """node -> min hop count (1..depth) from ``seeds``; see GraphModel.reachable."""
    frontier, visited, out = set(seeds), set(), {}
    for d in range(1, depth + 1):
        nxt = {t for f in frontier for t in adj.get(f, ())} - visited
        if not nxt:
            break
        for u in nxt:
            out[u] = d
        visited |= nxt
        frontier = nxt
    return out


def shortest_cycles(adj: dict[int, list[int]], nodes, depth: int) -> dict[int, int]:
    """node -> length of its shortest cycle of length 2..depth, self loops
    excluded (the ``indirect_recursion`` contract)."""
    out = {}
    for s in nodes:
        frontier = {s}
        for d in range(1, depth + 1):
            frontier = {t for f in frontier for t in adj.get(f, ()) if t != f}
            if not frontier:
                break
            if d >= 2 and s in frontier:
                out[s] = d
                break
    return out
