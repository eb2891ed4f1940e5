"""Tests of the benchmark's seeded input generators and reference model.

Pure Python (no Spark):  python3 -m pytest perfbench/test_gen.py -q
"""

from __future__ import annotations

import hashlib
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import gen  # noqa: E402
import model  # noqa: E402


def _corpus_bytes(seed: int) -> bytes:
    c = gen.binaryx_corpus(seed, n_batches=3, batch_size=6)
    return b"\n".join(gen.dump_doc(d) for docs in c.batches for d in docs)


def test_corpus_same_seed_is_byte_identical(tmp_path):
    assert _corpus_bytes(7) == _corpus_bytes(7)
    assert _corpus_bytes(7) != _corpus_bytes(8)
    a = gen.write_corpus(gen.binaryx_corpus(7, n_batches=2, batch_size=4), tmp_path / "a")
    b = gen.write_corpus(gen.binaryx_corpus(7, n_batches=2, batch_size=4), tmp_path / "b")
    for pa, pb in zip(sum(a, []), sum(b, [])):
        assert pa.name == pb.name and pa.read_bytes() == pb.read_bytes()


def test_later_batches_reanalyse_earlier_binaries():
    c = gen.binaryx_corpus(3, n_batches=3, batch_size=10, reanalyse_share=0.3)
    seen = set()
    for k, docs in enumerate(c.batches):
        hashes = [d["binary_info"]["hashes"]["sha256"] for d in docs]
        assert len(set(hashes)) == len(hashes)
        again = [h for h in hashes if h in seen]
        assert len(again) == (0 if k == 0 else 3)
        seen.update(hashes)


def test_import_model_applies_last_write_wins():
    c = gen.binaryx_corpus(5, n_batches=2, batch_size=8)
    first, full = model.GraphModel(), model.GraphModel()
    first.ingest(c.batches[0])
    for docs in c.batches:
        full.ingest(docs)
    re_hashes = {d["binary_info"]["hashes"]["sha256"] for d in c.batches[1]} & set(first.binaries)
    assert re_hashes
    changed = [u for u, v in first.functions.items() if full.functions[u] != v]
    assert changed and all(u.split(":")[0] in re_hashes for u in changed)
    # shared API pool: import nodes are deduplicated across binaries
    imports_per_binary = sum(len(d["imports"]) for docs in c.batches for d in docs)
    assert sum(1 for v in full.functions.values() if v[1] == "Import") < imports_per_binary


def test_callgraph_is_deterministic_and_has_cycles():
    a = gen.callgraph_edges(11, n_binaries=5)
    b = gen.callgraph_edges(11, n_binaries=5)
    assert (a.uids, a.src, a.dst) == (b.uids, b.src, b.dst)
    assert len(set(zip(a.src, a.dst))) == len(a.src)
    # every edge stays inside one binary; most point forward
    assert all(a.binary_of[s] == a.binary_of[d] for s, d in zip(a.src, a.dst))
    back = sum(1 for s, d in zip(a.src, a.dst) if d <= s)
    assert 0 < back < 0.1 * len(a.src)
    adj: dict[int, list[int]] = {}
    for s, d in zip(a.src, a.dst):
        adj.setdefault(s, []).append(d)
    assert model.shortest_cycles(adj, range(len(a.uids)), 6)
    assert all(":0x" in u and len(u.split(":")[0]) == 64 for u in a.uids)


def test_doc_corpus_near_duplicate_share():
    a = gen.doc_corpus(2, n_docs=2000)
    assert a.texts == gen.doc_corpus(2, n_docs=2000).texts
    assert 0.17 < len(a.near_dup_of) / 2000 < 0.23
    assert all(a.texts[i] == a.texts[j] for i, j in a.exact_dup_of.items())
    h = hashlib.sha256("\n".join(a.texts).encode()).hexdigest()
    assert h != hashlib.sha256("\n".join(gen.doc_corpus(3, n_docs=2000).texts).encode()).hexdigest()
