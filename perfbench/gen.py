"""Seeded input generators for the benchmark.

Every generator takes the seed as an argument and draws only from its own
``random.Random(seed)``, so one seed always yields byte-identical inputs.
The engine never sees the generators: it receives the files they write or
the frames built from the rows they return.

- :func:`binaryx_corpus` / :func:`write_corpus` -- BinaryX analysis-JSON
  documents (one per binary and analysis), in import batches where later
  batches re-analyse a share of earlier binaries.
- :func:`callgraph_edges` -- a call-graph-shaped edge set: one graph per
  binary, mostly forward edges with heavy-tailed fan-in, plus a seeded
  share of back edges so recursion has cycles to find.
- :func:`doc_corpus` -- a text corpus with a fixed near-duplicate share,
  exact duplicates and shared boilerplate.
"""

from __future__ import annotations

import bisect
import hashlib
import itertools
import json
import random
from dataclasses import dataclass
from pathlib import Path

LIBRARIES = (
    "kernel32.dll", "user32.dll", "advapi32.dll", "ws2_32.dll",
    "ntdll.dll", "msvcrt.dll", "crypt32.dll", "wininet.dll",
)
_SYL = (
    "get", "set", "read", "write", "open", "close", "init", "load", "send",
    "recv", "crypt", "hash", "parse", "alloc", "free", "reg", "proc", "file",
    "sock", "key", "buf", "str", "map", "list", "conf", "log", "task", "net",
)
WORDS = (
    "bitcoin", "wallet", "ransom", "payload", "config", "server", "update",
    "install", "registry", "service", "mutex", "beacon", "encrypt", "decrypt",
    "password", "login", "token", "session", "upload", "download", "victim",
    "backup", "shadow", "delete", "persist", "inject", "process", "thread",
    "memory", "module", "kernel", "driver", "socket", "connect", "request",
    "response", "header", "cookie", "agent", "mozilla", "windows", "system",
)


def zipf_weights(n: int, s: float = 1.1) -> list[float]:
    """Cumulative Zipf(s) weights over ranks 1..n (for ``choices(cum_weights=)``)."""
    return list(itertools.accumulate(1.0 / (r ** s) for r in range(1, n + 1)))


def _name_pool(rng: random.Random, n: int, parts: int) -> list[str]:
    seen: dict[str, None] = {}
    while len(seen) < n:
        seen["_".join(rng.choice(_SYL) for _ in range(parts)) + str(len(seen) % 7)] = None
    return list(seen)


# --------------------------------------------------------------- BinaryX JSON


@dataclass
class Corpus:
    """Analysis documents grouped into import batches.

    ``batches[k]`` is the list of documents of batch ``k`` in file order;
    each document is the JSON object the analyser would write."""

    batches: list[list[dict]]
    fn_names: list[str]


def _binary_doc(bid: int, version: int, shared: dict) -> dict:
    """One analysis of binary ``bid``.  Version 0 is the first analysis; a
    later version re-analyses the same binary (same hash and layout) with
    changed sizes, a few renamed functions and a few extra calls, so the
    import's MERGE has updates to apply next to inserts."""
    rng = random.Random(f"{shared['seed']}:bin:{bid}")
    vr = random.Random(f"{shared['seed']}:bin:{bid}:v{version}")
    bhash = hashlib.sha256(f"{shared['seed']}:{bid}".encode()).hexdigest()
    n_fn = rng.randint(shared["fn_lo"], shared["fn_hi"])
    base = 0x401000 + rng.randrange(0, 0x100) * 0x1000
    addrs, a = [], base
    for _ in range(n_fn):
        addrs.append(a)
        a += 0x10 * rng.randint(2, 40)
    names = []
    for i, ad in enumerate(addrs):
        if i == 0:
            names.append("main")
        elif rng.random() < 0.45:
            names.append(rng.choices(shared["fn_names"], cum_weights=shared["fn_cum"])[0])
        else:
            names.append(f"sub_{ad:x}")
    sizes = [rng.randint(8, 2000) for _ in addrs]
    # re-analysis: resized and renamed functions
    for i in range(n_fn):
        if version and vr.random() < 0.2:
            sizes[i] += vr.randint(1, 64)
        if version and i and vr.random() < 0.03:
            names[i] = f"renamed_{version}_{addrs[i]:x}"
    functions = [
        {"name": nm, "address": f"0x{ad:x}", "size": sz}
        for nm, ad, sz in zip(names, addrs, sizes)
    ]

    apis = shared["apis"]
    k_imp = rng.randint(6, 24)
    imp_idx = sorted(set(rng.choices(range(len(apis)), cum_weights=shared["api_cum"], k=k_imp)))
    iat = 0x700000 + rng.randrange(0, 0x40) * 0x1000
    imports = []
    for j, ix in enumerate(imp_idx):
        lib, api = apis[ix]
        imports.append({"name": api, "address": f"0x{iat + 8 * j:x}", "library": lib.upper() if j % 3 == 0 else lib})

    strings = []
    n_str = rng.randint(shared["str_lo"], shared["str_hi"])
    for j in range(n_str):
        if rng.random() < 0.6:
            val = rng.choices(shared["str_pool"], cum_weights=shared["str_cum"])[0]
        else:
            val = " ".join(rng.choice(WORDS) for _ in range(rng.randint(2, 5))) + f" {bid}-{j}"
        strings.append({"value": val, "address": f"0x{0x600000 + 0x20 * j:x}"})

    # calls: mostly forward (caller address < callee address) with
    # heavy-tailed fan-in on the last (leaf-like) functions, some to
    # imports, a few back edges (recursion), one unresolved target per binary
    calls, seen = [], set()
    n_calls = int(n_fn * shared["calls_per_fn"])
    fan_cum = zipf_weights(n_fn, 1.05)
    for c in range(n_calls + (vr.randint(1, 6) if version else 0)):
        cr = rng if c < n_calls else vr
        src = cr.randrange(0, n_fn)
        u = cr.random()
        if u < 0.15 and imports:
            dst_addr = imports[cr.randrange(len(imports))]["address"]
        elif u < 0.19:
            dst_addr = f"0x{addrs[cr.randrange(0, src + 1)]:x}"  # back edge / self call
        else:
            tgt = n_fn - 1 - cr.choices(range(n_fn), cum_weights=fan_cum)[0]
            if tgt <= src:
                tgt = min(n_fn - 1, src + 1 + (tgt % max(1, n_fn - src - 1)))
            dst_addr = f"0x{addrs[tgt]:x}"
        key = (src, dst_addr)
        if key in seen:
            continue
        seen.add(key)
        typ = ("direct", "indirect", "tail", "virtual")[cr.choices(range(4), cum_weights=(80, 90, 96, 100))[0]]
        calls.append({
            "from_address": f"0x{addrs[src]:x}",
            "to_address": dst_addr,
            "offset": f"0x{addrs[src] + 4 * (c % 64) + version:x}",
            "type": typ,
        })
    calls.append({"from_address": f"0x{addrs[0]:x}", "to_address": "0xdead0000", "offset": "0x0", "type": "direct"})

    exports = [{"name": names[i], "address": f"0x{addrs[i]:x}"} for i in range(0, n_fn, 17)][:3]
    return {
        "binary_info": {
            "name": f"sample_{bid:05d}.exe",
            "file_path": f"/samples/{bid:05d}/sample_{bid:05d}.exe",
            "file_size": 4096 + 64 * n_fn + version,
            "file_type": {"type": "PE32" if bid % 5 else "ELF 64-bit", "architecture": "x86_64" if bid % 3 else "x86"},
            "hashes": {"sha256": bhash},
        },
        "functions": functions,
        "strings": strings,
        "imports": imports,
        "exports": exports,
        "calls": calls,
    }


def binaryx_corpus(
    seed: int,
    *,
    n_batches: int,
    batch_size: int,
    reanalyse_share: float = 0.3,
    fn_range: tuple[int, int] = (90, 150),
    str_range: tuple[int, int] = (20, 60),
    calls_per_fn: float = 2.0,
) -> Corpus:
    """A BinaryX corpus in ``n_batches`` batches of ``batch_size`` documents.

    Batch 0 holds only new binaries; every later batch re-analyses a
    ``reanalyse_share`` of binaries from earlier batches and adds new ones.
    Function names, imported APIs and string values draw Zipf-skewed from
    pools shared by all binaries, so node dedup does real work.

    The shape parameters (functions and strings per binary, calls per
    function, the re-analysis share, pool sizes and Zipf exponents) are
    assumptions: no observed BinaryX corpus backs them."""
    rng = random.Random(f"{seed}:corpus")
    fn_names = _name_pool(rng, 400, 2)
    api_names = _name_pool(rng, 240, 2)
    apis = [(LIBRARIES[i % len(LIBRARIES)], "".join(w.capitalize() for w in nm.split("_")) + "A")
            for i, nm in enumerate(api_names)]
    str_pool = [" ".join(rng.choice(WORDS) for _ in range(rng.randint(1, 4))) for _ in range(600)]
    str_pool = list(dict.fromkeys(str_pool))
    shared = {
        "seed": seed, "fn_names": fn_names, "fn_cum": zipf_weights(len(fn_names)),
        "apis": apis, "api_cum": zipf_weights(len(apis), 0.9),
        "str_pool": str_pool, "str_cum": zipf_weights(len(str_pool), 0.9),
        "fn_lo": fn_range[0], "fn_hi": fn_range[1],
        "str_lo": str_range[0], "str_hi": str_range[1],
        "calls_per_fn": calls_per_fn,
    }
    batches, versions, next_bid = [], {}, 0
    for k in range(n_batches):
        n_re = int(round(batch_size * reanalyse_share)) if k else 0
        re_ids = sorted(rng.sample(sorted(versions), min(n_re, len(versions))))
        docs = []
        for bid in re_ids:
            versions[bid] += 1
            docs.append(_binary_doc(bid, versions[bid], shared))
        for _ in range(batch_size - len(re_ids)):
            versions[next_bid] = 0
            docs.append(_binary_doc(next_bid, 0, shared))
            next_bid += 1
        batches.append(docs)
    return Corpus(batches=batches, fn_names=fn_names)


def dump_doc(doc: dict) -> bytes:
    return json.dumps(doc, sort_keys=True, separators=(",", ":"), ensure_ascii=False).encode()


def write_corpus(corpus: Corpus, root: Path) -> list[list[Path]]:
    """Write batch ``k`` to ``root/batch_k/doc_NNNNN.json`` (file order =
    list order, so the engine's file-name ingest order matches the model's)."""
    out = []
    for k, docs in enumerate(corpus.batches):
        d = root / f"batch_{k:03d}"
        d.mkdir(parents=True, exist_ok=True)
        paths = []
        for i, doc in enumerate(docs):
            p = d / f"doc_{i:05d}.json"
            p.write_bytes(dump_doc(doc))
            paths.append(p)
        out.append(paths)
    return out


# ----------------------------------------------------------------- call graph


@dataclass
class CallGraph:
    """Edges as parallel lists.  ``uids[i]`` is node ``i`` in the
    warehouse's function-uid form (``<binary sha256>:0x<address>``);
    ``src``/``dst`` hold node indices, which double as the integer id form
    the id-casting graph operators take."""

    uids: list[str]
    src: list[int]
    dst: list[int]
    binary_of: list[int]


def callgraph_edges(
    seed: int,
    *,
    n_binaries: int,
    fn_range: tuple[int, int] = (200, 600),
    out_degree: float = 3.0,
    back_share: float = 0.03,
) -> CallGraph:
    """One call graph per binary.  Function ``j`` of a binary mostly calls
    higher-index functions (forward edges, a DAG), callees draw from a
    Zipf law so fan-in is heavy-tailed, and ``back_share`` of the edges
    point backwards (or to the caller itself) so cycles exist."""
    rng = random.Random(f"{seed}:callgraph")
    uids: list[str] = []
    src: list[int] = []
    dst: list[int] = []
    binary_of: list[int] = []
    cums: dict[int, list[float]] = {}
    for b in range(n_binaries):
        bhash = hashlib.sha256(f"{seed}:cg:{b}".encode()).hexdigest()
        n = rng.randint(*fn_range)
        first = len(uids)
        addr = 0x401000
        for _ in range(n):
            uids.append(f"{bhash}:0x{addr:x}")
            binary_of.append(b)
            addr += 0x10 * rng.randint(2, 40)
        cum = cums.setdefault(n, zipf_weights(n, 1.05))
        total = cum[-1]
        seen = set()
        for j in range(n - 1):
            deg = min(n - 1 - j, int(rng.expovariate(1.0 / out_degree)) + 1)
            for _ in range(deg):
                if rng.random() < back_share:
                    t = rng.randrange(0, j + 1)
                else:
                    # Zipf rank r -> target n-1-r: the last functions are the
                    # hottest callees (library-like leaves)
                    r = bisect.bisect_left(cum, rng.random() * total)
                    t = n - 1 - r
                    if t <= j:
                        t = j + 1 + rng.randrange(n - 1 - j)
                if (j, t) not in seen:
                    seen.add((j, t))
                    src.append(first + j)
                    dst.append(first + t)
    return CallGraph(uids=uids, src=src, dst=dst, binary_of=binary_of)


# --------------------------------------------------------------- doc corpus


@dataclass
class DocCorpus:
    doc_ids: list[int]
    texts: list[str]
    near_dup_of: dict[int, int]
    exact_dup_of: dict[int, int]


def doc_corpus(
    seed: int,
    *,
    n_docs: int,
    near_dup_share: float = 0.2,
    exact_dup_share: float = 0.05,
    mutate_share: float = 0.06,
    words: tuple[int, int] = (40, 120),
) -> DocCorpus:
    """Documents over a Zipf vocabulary.  ``near_dup_share`` of them copy an
    earlier document with ``mutate_share`` of their words replaced,
    ``exact_dup_share`` copy one verbatim, and a fifth of all documents
    end in one of a few shared boilerplate paragraphs (CDC dedup fodder)."""
    rng = random.Random(f"{seed}:docs")
    vocab = list(dict.fromkeys(
        "".join(rng.choice("abcdefghijklmnoprstuvwy") for _ in range(rng.randint(2, 9)))
        for _ in range(6000)
    ))
    cum = zipf_weights(len(vocab), 1.0)
    boiler = [
        " ".join(rng.choices(vocab, cum_weights=cum, k=rng.randint(30, 50))) for _ in range(6)
    ]
    texts: list[str] = []
    near, exact = {}, {}
    for i in range(n_docs):
        u = rng.random()
        if i > 10 and u < exact_dup_share:
            src = rng.randrange(i)
            exact[i] = src
            texts.append(texts[src])
            continue
        if i > 10 and u < exact_dup_share + near_dup_share:
            src = rng.randrange(i)
            toks = texts[src].split()
            for p in range(len(toks)):
                if rng.random() < mutate_share:
                    toks[p] = rng.choices(vocab, cum_weights=cum)[0]
            near[i] = src
            texts.append(" ".join(toks))
            continue
        body = rng.choices(vocab, cum_weights=cum, k=rng.randint(*words))
        if rng.random() < 0.2:
            body += boiler[rng.randrange(len(boiler))].split()
        texts.append(" ".join(body))
    return DocCorpus(doc_ids=list(range(n_docs)), texts=texts, near_dup_of=near, exact_dup_of=exact)
