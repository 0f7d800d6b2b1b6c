"""Seeded input generators and the per-seed input cache.

Every generator takes a `numpy.random.Generator` derived from the run's
seed and returns plain data; the workloads write it to files that the
program then reads. The same seed gives byte-identical files. Inputs
are generated outside set-up, once per (workload, size, seed, generator
source), into `.perfbench/inputs/`; later runs with that seed reuse them.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: 2024-03-01 00:00:00 UTC in epoch millis; every generated event time
#: is an offset from it
T0_MS = 1_709_251_200_000
DAY_MS = 86_400_000
HOUR_MS = 3_600_000

CITIES = [f"city{i:02d}" for i in range(40)]
PROVINCES = [f"prov{i:02d}" for i in range(12)]
PAYLOAD_COLS = ("uid", "city", "province", "amount", "event_time")
ROW_COLS = ("id", "es", "ts", "type") + PAYLOAD_COLS

#: cached input sets kept per checkout; older ones are evicted
CACHE_KEEP = 6


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """Independent stream per input kind, so adding one input never
    shifts another's values."""
    return np.random.default_rng(np.random.SeedSequence([seed, *(ord(c) for c in stream)]))


def cached(base: str, key: str, build) -> str:
    """The directory holding input set `key` under `base`, built by
    `build(dir)` if absent. The key is suffixed with a hash of this file
    and of the file defining `build`, so an edited generator never
    reads a set it did not make."""
    src = b"".join(open(f, "rb").read() for f in (__file__, build.__code__.co_filename))
    d = os.path.join(base, f"{key}-{hashlib.sha256(src).hexdigest()[:12]}")
    if os.path.exists(os.path.join(d, ".complete")):
        os.utime(d)
        return d
    shutil.rmtree(d, ignore_errors=True)
    tmp = d + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    open(os.path.join(tmp, ".complete"), "w").close()
    os.rename(tmp, d)
    sets = sorted((e for e in os.scandir(base) if e.is_dir() and ".tmp" not in e.name),
                  key=lambda e: e.stat().st_mtime)
    for e in sets[:-CACHE_KEEP]:
        shutil.rmtree(e.path, ignore_errors=True)
    return d


def write_json(path: str, obj) -> None:
    with open(path, "w") as f:
        json.dump(obj, f, sort_keys=True)


def read_json(path: str):
    with open(path) as f:
        return json.load(f)


def write_parquet(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def write_lines(path: str, lines: list[str]) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as f:
        f.write(("\n".join(lines) + "\n").encode())


# ------------------------------------------------------------------- CDC

def zipf_keys(rng: np.random.Generator, n_keys: int, s: float, n: int) -> np.ndarray:
    """`n` draws from a Zipf(s) law truncated to `n_keys` keys, with the
    rank-to-key mapping permuted so hot keys are spread over the space."""
    p = 1.0 / np.arange(1, n_keys + 1) ** s
    p /= p.sum()
    perm = rng.permutation(n_keys)
    return perm[rng.choice(n_keys, size=n, p=p)]


def fmt_time(ms) -> list[str]:
    """Epoch millis -> 'YYYY-MM-DD HH:MM:SS.mmm' (UTC)."""
    iso = np.asarray(ms, dtype="int64").astype("datetime64[ms]").astype(str)
    return np.char.replace(iso, "T", " ").tolist()


def cdc_events(
    rng: np.random.Generator,
    n_events: int,
    keys: np.ndarray,
    start_ms: int,
    span_ms: int,
    ddl_share: float,
    late_share: float,
    late_max_ms: int,
    first_id: int = 0,
    max_rows: int = 3,
) -> dict:
    """Canal envelopes in arrival order, as columns.

    Arrival (log time `ts`) is strictly increasing, one millisecond per
    envelope, so (`event_time`, `es`, `ts`) is a unique recency order
    per key. Event time `es` follows arrival over `span_ms`, except for
    a `late_share` of envelopes whose `es` is pulled back by up to
    `late_max_ms` (crossing day boundaries when that exceeds the time
    of day). A `ddl_share` of envelopes are DDL. DML envelopes carry 1
    to `max_rows` row images of distinct keys, taken in order from
    `keys` (two candidates per image, so duplicates can be skipped)."""
    ids = np.arange(first_id, first_id + n_events, dtype=np.int64)
    ts = start_ms + ids
    es = start_ms + (np.arange(n_events, dtype=np.int64) * span_ms) // max(n_events, 1)
    late = rng.random(n_events) < late_share
    es = es - np.where(late, rng.integers(1, late_max_ms, n_events), 0)
    n_rows = rng.integers(1, max_rows + 1, n_events)
    is_ddl = rng.random(n_events) < ddl_share
    m = 2 * int(n_rows.sum())
    if len(keys) < m:
        raise ValueError("cdc_events: too few candidate keys")
    return {
        "id": ids, "ts": ts, "es": es, "ddl": is_ddl, "n_rows": n_rows,
        "keys": keys[:m], "kinds": rng.random(m), "amounts": rng.integers(0, 1_000_000, m),
        "cities": rng.integers(0, len(CITIES), m), "provs": rng.integers(0, len(PROVINCES), m),
    }


#: a DML envelope and one row image, as `json.dumps(..., separators=(",", ":"))`
#: writes them; every value is ASCII with nothing to escape
_DML = ('{{"isDdl":"false","id":{},"es":{},"ts":{},"type":"{}","data":[{}],'
        '"database":"bench","table":"code_city"}}')
_IMAGE = '{{"uid":"{}","city":"{}","province":"{}","amount":"{}","event_time":"{}"}}'


def render_envelopes(ev: dict, state: dict[int, str] | None = None) -> tuple[list[list[str]], list[tuple]]:
    """JSON lines per envelope (in arrival order) and the row images they
    carry (the reference input, tuples in `ROW_COLS` order). Keys within
    one envelope are distinct; the first image of a key is an INSERT,
    later ones UPDATE, and about
    one in twelve a DELETE (the next image after a DELETE is an INSERT).
    A DML envelope whose images mix kinds is split into one line per
    kind sharing id, es and ts, as Canal emits one type per envelope.
    `state` (key -> last kind) carries across calls."""
    state = {} if state is None else state
    per_env: list[list[str]] = []
    rows: list[tuple] = []
    offs = np.concatenate([[0], np.cumsum(2 * ev["n_rows"])]).tolist()
    times = fmt_time(ev["es"])
    # plain lists: indexing numpy arrays one element at a time is slow
    ids, ess, tss, ddl, n_rows, keys, kinds, cities, provs, amounts = (
        ev[c].tolist() for c in ("id", "es", "ts", "ddl", "n_rows", "keys", "kinds", "cities",
                                 "provs", "amounts"))
    for i in range(len(ids)):
        eid, es, ts = ids[i], ess[i], tss[i]
        if ddl[i]:
            per_env.append([json.dumps({
                "isDdl": "true", "id": eid, "es": es, "ts": ts, "type": "ALTER",
                "data": None, "database": "bench", "table": "code_city",
                "sql": f"ALTER TABLE code_city MODIFY amount BIGINT /* {eid} */",
            }, separators=(",", ":"))])
            continue
        want = n_rows[i]
        taken: set[int] = set()
        images: dict[str, list[tuple]] = {}
        for j in range(offs[i], offs[i + 1]):
            k = keys[j]
            if k in taken:
                continue
            taken.add(k)
            prev = state.get(k)
            if prev is None or prev == "DELETE":
                kind = "INSERT"
            elif kinds[j] < 1 / 12:
                kind = "DELETE"
            else:
                kind = "UPDATE"
            state[k] = kind
            images.setdefault(kind, []).append((
                str(k), CITIES[cities[j]], PROVINCES[provs[j]], str(amounts[j]), times[i]))
            if len(taken) == want:
                break
        lines = []
        for kind in sorted(images):
            lines.append(_DML.format(eid, es, ts, kind,
                                     ",".join(_IMAGE.format(*img) for img in images[kind])))
            rows.extend((eid, es, ts, kind, *img) for img in images[kind])
        per_env.append(lines)
    return per_env, rows


def rows_table(rows: list[tuple]) -> pa.Table:
    """Row images, tuples in the order of `ROW_COLS`, as a table (the
    reference's input)."""
    return pa.table(dict(zip(ROW_COLS, map(list, zip(*rows)))) if rows
                    else {c: [] for c in ROW_COLS})


def snapshot_table(rng: np.random.Generator, n_rows: int) -> pa.Table:
    """A merged snapshot of keys 0..n_rows-1 with the Canal payload
    columns, all strings as the dynamic Canal flatten produces them."""
    es = T0_MS - DAY_MS + rng.integers(0, DAY_MS, n_rows)
    return pa.table({
        "uid": pa.array(np.arange(n_rows).astype(str)),
        "city": pa.array(np.array(CITIES)[rng.integers(0, len(CITIES), n_rows)]),
        "province": pa.array(np.array(PROVINCES)[rng.integers(0, len(PROVINCES), n_rows)]),
        "amount": pa.array(rng.integers(0, 1_000_000, n_rows).astype(str)),
        "event_time": pa.array(fmt_time(es)),
    })


# ---------------------------------------------------------------- corpus

EN_STOP = ("the", "a", "of", "and", "to", "in", "is", "it")
DE_STOP = ("der", "die", "das", "und", "nicht", "ist", "ein", "mit")
_ALL_STOP = set(EN_STOP) | set(DE_STOP) | {
    "el", "la", "de", "que", "y", "en", "un", "es", "le", "et", "est",
}
#: tokens of a planted eval span
CONTAM_SPAN = 13


def vocabulary(rng: np.random.Generator, size: int) -> np.ndarray:
    letters = np.array(list("bcdfghjklmnprstvwxz"))
    vowels = np.array(list("aeiou"))
    words: set[str] = set()
    while len(words) < size:
        n = int(rng.integers(2, 5))
        w = "".join(letters[rng.integers(0, len(letters))] + vowels[rng.integers(0, len(vowels))]
                    for _ in range(n))
        if w not in _ALL_STOP:
            words.add(w)
    return np.array(sorted(words))


def doc_tokens(rng, vocab, n_tokens, stop) -> list[str]:
    toks = vocab[rng.integers(0, len(vocab), n_tokens)].tolist()
    # about one token in four is a stopword of the document's language
    for p in np.nonzero(rng.random(n_tokens) < 0.25)[0]:
        toks[p] = stop[int(rng.integers(0, len(stop)))]
    return toks


def eval_slice(rng, vocab, n_eval: int) -> list[list[str]]:
    """Held-out eval documents that shards may be contaminated with."""
    return [doc_tokens(rng, vocab, int(rng.integers(60, 100)), EN_STOP) for _ in range(n_eval)]


def corpus_shard(rng, vocab, eval_texts, n_docs: int, id_base: int, shares: dict,
                 doc_len: tuple[int, int] = (120, 200)) -> dict:
    """One shard of a training corpus, with every planted property
    recorded as ground truth.

    Base documents are English (a quarter English stopwords) unless
    drawn German or low quality (one word repeated); the counts of each
    kind are fixed shares, so every shard carries the same work. Planted
    on distinct English documents: exact copies, near copies (two tokens
    replaced, 3-shingle Jaccard near 0.9), one of four shared 60-token
    boilerplate passages, and a 13-token span copied from an eval
    document. Doc ids are `id_base` + a seeded permutation, so copies
    land before or after their originals."""
    n = {k: int(round(n_docs * v)) for k, v in shares.items()}
    kind = np.array(["en"] * n_docs, dtype=object)
    order = rng.permutation(n_docs)
    kind[order[: n["non_en"]]] = "de"
    kind[order[n["non_en"]: n["non_en"] + n["low_quality"]]] = "low"
    lens = rng.integers(doc_len[0], doc_len[1], n_docs)
    texts: list[list[str]] = []
    for i in range(n_docs):
        if kind[i] == "low":
            texts.append([vocab[int(rng.integers(0, len(vocab)))]] * int(lens[i]))
        else:
            texts.append(doc_tokens(rng, vocab, int(lens[i]), EN_STOP if kind[i] == "en" else DE_STOP))

    take = rng.permutation(np.nonzero(kind == "en")[0])
    cut = np.cumsum([n["exact_dup"], n["near_dup"], n["boilerplate"], n["contaminated"]])
    exact_src, near_src = take[: cut[0]], take[cut[0]: cut[1]]
    boiler_dst, contam_dst = take[cut[1]: cut[2]], take[cut[2]: cut[3]]
    passages = [doc_tokens(rng, vocab, 60, EN_STOP) for _ in range(4)]
    boiler_of = {}
    for j, d in enumerate(boiler_dst):
        at = int(rng.integers(0, len(texts[d])))
        texts[d] = texts[d][:at] + passages[j % 4] + texts[d][at:]
        boiler_of[int(d)] = j % 4
    for d in contam_dst:
        e = eval_texts[int(rng.integers(0, len(eval_texts)))]
        at = int(rng.integers(0, len(e) - CONTAM_SPAN))
        pos = int(rng.integers(0, len(texts[d])))
        texts[d] = texts[d][:pos] + e[at: at + CONTAM_SPAN] + texts[d][pos:]

    origin = list(range(n_docs))
    kinds = list(kind)
    for d in exact_src:
        texts.append(list(texts[d]))
        origin.append(int(d))
        kinds.append("exact")
    for d in near_src:
        t = list(texts[d])
        for p in rng.choice(len(t), 2, replace=False):
            t[p] = vocab[int(rng.integers(0, len(vocab)))]
        texts.append(t)
        origin.append(int(d))
        kinds.append("near")
    total = len(texts)
    doc_ids = id_base + rng.permutation(total).astype(np.int64) + 1
    joined = [" ".join(t) for t in texts]
    table = pa.table({
        "doc_id": pa.array(doc_ids),
        "text": pa.array(joined),
        "n_chars": pa.array(np.array([len(s) for s in joined], dtype=np.int64)),
        "source": pa.array([f"src{int(i) % 8}" for i in doc_ids]),
    })

    # ground truth, by construction: the keeper of an exact group is its
    # smallest id; of a near pair (origin, copy) the larger id is dropped
    passes = [k in ("en", "exact", "near") for k in kinds]
    groups: dict[str, list[int]] = {}
    for i, s in enumerate(joined):
        if passes[i]:
            groups.setdefault(s, []).append(int(doc_ids[i]))
    keep = {min(ids): len(ids) for ids in groups.values()}
    near_drop = {max(int(doc_ids[origin[i]]), int(doc_ids[i]))
                 for i in range(n_docs + len(exact_src), total)}
    contaminated = sorted(int(doc_ids[d]) for d in contam_dst)
    keepers = {d: c for d, c in keep.items() if d not in near_drop and d not in set(contaminated)}
    truth = {
        "keepers": {str(d): keepers[d] for d in sorted(keepers)},
        "near_pairs": len(near_src),
        "contaminated": contaminated,
        # every boilerplate passage keeps its first copy; the others shrink
        "shortened": len(boiler_dst) - len(set(boiler_of.values())),
    }
    return {"table": table, "truth": truth}


# --------------------------------------------------------------- vectors

def cluster_centres(rng: np.random.Generator, n_clusters: int, dim: int) -> np.ndarray:
    c = rng.standard_normal((n_clusters, dim)).astype(np.float32)
    return c / np.linalg.norm(c, axis=1, keepdims=True)


def clustered_vectors(rng: np.random.Generator, centres: np.ndarray, n: int, spread: float) -> np.ndarray:
    """`n` float32 vectors around the given unit centres, Gaussian spread."""
    which = rng.integers(0, len(centres), n)
    noise = spread * rng.standard_normal((n, centres.shape[1])).astype(np.float32)
    return (centres[which] + noise).astype(np.float32)


def vector_table(ids: np.ndarray, vecs: np.ndarray, id_col: str = "vec_id") -> pa.Table:
    flat = pa.array(vecs.astype(np.float64).ravel())
    emb = pa.FixedSizeListArray.from_arrays(flat, vecs.shape[1]).cast(pa.list_(pa.float64()))
    return pa.table({id_col: pa.array(ids.astype(np.int64)), "embedding": emb})
