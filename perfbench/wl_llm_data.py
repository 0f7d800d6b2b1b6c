"""llm_data: training-data shards through the prep chain into a standing
ANN index, closed loop with one client.

Set-up builds the base IVF-PQ index with `ivfpq_build_index`, attaches
one long-running `start_continuous_ann_index` query (compaction on
every append) and runs the first shard untimed. Each op is then one
fresh shard of documents with embeddings:

1. `doc_profile` -> quality >= 0.5 and `lang_guess = 'en'`
   (operators.text) -> `exact_dedup` -> `minhash_near_dups`, the larger
   id of a pair dropped (operators.dedup) -> `substring_dedup` ->
   `decontaminate` against a fixed eval slice (operators.prep); every
   stage is written to parquet and read back by the next;
2. the keepers' embeddings land as one file in the index query's source
   directory, and the client waits until the query has appended and
   compacted them (streaming.ann_sink, operators.similarity);
3. a fixed query batch is searched with `ivfpq_search_index`.

An op's latency runs from the shard landing to the search batch
returning. Checked outside the window: keepers, duplicate counts,
near pairs, shortened documents and contamination against the
generator's ground truth; recall@10 of every search against numpy
brute force; the final index holds every id exactly once.
"""

from __future__ import annotations

import glob
import os
import re
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import gen
from perfbench.tracer import put_layer_counts

SIZES = {
    "full": {"shard_docs": 1000, "warm_docs": 300, "shards": 6, "n_eval": 100, "base": 2000, "dim": 32,
             "queries": 32, "n_cells": 4, "m": 8, "n_codes": 64, "nprobe": 2},
    "tiny": {"shard_docs": 300, "warm_docs": 300, "shards": 3, "n_eval": 30, "base": 800, "dim": 16,
             "queries": 8, "n_cells": 4, "m": 4, "n_codes": 32, "nprobe": 2},
}
#: planted shares of every shard
SHARES = {"exact_dup": 0.05, "near_dup": 0.05, "non_en": 0.10, "low_quality": 0.05,
          "boilerplate": 0.05, "contaminated": 0.03}
VOCAB = 6000
CLUSTERS = 24
SPREAD = 0.35
K = 10
#: recall@10 below this fails the run: a faster search that loses
#: accuracy is a regression, not a gain
RECALL_FLOOR = 0.15
#: decontamination n-gram length
DECONTAM_N = 8
#: ids: base vectors below SHARD_IDS, shard k's docs from (k + 1) * SHARD_IDS
SHARD_IDS = 1_000_000
QUERY_IDS = 900_000_000

LAYERS = ("text", "dedup", "prep", "similarity", "ann_sink", "ann", "llm_data")
STAGES = ("text:profile", "dedup:exact", "dedup:minhash", "prep:substring", "prep:decontam")


def build_inputs(d: str, seed: int, size: str) -> None:
    s = SIZES[size]
    rng = gen.rng_for(seed, "llm_data")
    vocab = gen.vocabulary(rng, VOCAB)
    evals = gen.eval_slice(rng, vocab, s["n_eval"])
    gen.write_parquet(pa.table({"doc_id": pa.array(np.arange(len(evals), dtype=np.int64) + 1),
                                "text": [" ".join(t) for t in evals]}), f"{d}/eval/part-0.parquet")
    centres = gen.cluster_centres(rng, CLUSTERS, s["dim"])
    base = gen.clustered_vectors(rng, centres, s["base"], SPREAD)
    gen.write_parquet(gen.vector_table(np.arange(s["base"]), base), f"{d}/base/part-0.parquet")
    q = gen.clustered_vectors(rng, centres, s["queries"], SPREAD)
    gen.write_parquet(gen.vector_table(QUERY_IDS + np.arange(s["queries"]), q),
                      f"{d}/queries/part-0.parquet")
    truth = []
    for k in range(s["shards"]):
        n_docs = s["warm_docs"] if k == 0 else s["shard_docs"]
        sh = gen.corpus_shard(rng, vocab, evals, n_docs, (k + 1) * SHARD_IDS, SHARES)
        gen.write_parquet(sh["table"], f"{d}/shard{k}/docs/part-0.parquet")
        ids = sh["table"]["doc_id"].to_numpy()
        gen.write_parquet(gen.vector_table(ids, gen.clustered_vectors(rng, centres, len(ids), SPREAD)),
                          f"{d}/shard{k}/emb/part-0.parquet")
        truth.append({**sh["truth"], "docs": len(ids)})
    gen.write_json(f"{d}/truth.json", truth)


def generate(run, base: str):
    d = gen.cached(base, f"llm_data-{run.size}-s{run.seed}",
                          lambda d: build_inputs(d, run.seed, run.size))
    s = SIZES[run.size]
    run.props.update({"shard_docs": s["shard_docs"], "shares": SHARES, "vocab": VOCAB,
                      "base_vectors": s["base"], "dim": s["dim"], "clusters": CLUSTERS,
                      "spread": SPREAD, "queries": s["queries"], "n_cells": s["n_cells"],
                      "m": s["m"], "n_codes": s["n_codes"], "nprobe": s["nprobe"], "k": K,
                      "compact_every": 1, "decontam_n": DECONTAM_N})
    return {"dir": d, "truth": gen.read_json(f"{d}/truth.json")}


# ------------------------------------------------------------------ ops

def setup(run, inp: dict) -> dict:
    from flink_etl_spark.operators.similarity import ivfpq_build_index
    from flink_etl_spark.streaming.ann_sink import start_continuous_ann_index

    s = SIZES[run.size]
    root = run.dir("llm")
    spark = run.spark
    t = time.perf_counter()
    with run.op("similarity:build"):
        ivfpq_build_index(spark.read.parquet(f"{inp['dir']}/base"), f"{root}/index",
                          n_cells=s["n_cells"], m=s["m"], n_codes=s["n_codes"])
    schema = spark.read.parquet(f"{inp['dir']}/shard0/emb").schema
    os.makedirs(f"{root}/stream")
    st = {"root": root, "inp": inp, "ops": [], "next": 0,
          "query": start_continuous_ann_index(
              spark.readStream.schema(schema).parquet(f"{root}/stream"),
              f"{root}/index", f"{root}/ck_index", compact_every=1)}
    run.put("preload_s", time.perf_counter() - t, "s")
    t = time.perf_counter()
    _op(run, st)
    run.put("warm_s", time.perf_counter() - t, "s")
    return st


def _op(run, st: dict) -> None:
    """One shard: prep chain, append the keepers' embeddings, search."""
    import pyspark.sql.functions as F

    from flink_etl_spark.operators.dedup import exact_dedup, minhash_near_dups
    from flink_etl_spark.operators.prep import decontaminate, substring_dedup
    from flink_etl_spark.operators.similarity import ivfpq_search_index
    from flink_etl_spark.operators.text import doc_profile

    spark, s = run.spark, SIZES[run.size]
    k = st["next"]
    st["next"] += 1
    src = f"{st['inp']['dir']}/shard{k}"
    out = run.dir("llm", f"shard{k}")
    root = st["root"]
    rec = {"shard": k, "out": out, "rows": []}

    def stage(name, build):
        t = time.perf_counter()
        with run.op(name):
            build()
        rec[name] = time.perf_counter() - t

    def prof():
        p = doc_profile(spark.read.parquet(f"{src}/docs"), passthrough=("source",))
        (p.filter((F.col("quality") >= 0.5) & (F.col("lang_guess") == "en"))
         .select("doc_id", "text", "n_chars", "source").write.parquet(f"{out}/filtered"))

    def exact():
        ex = exact_dedup(spark.read.parquet(f"{out}/filtered"), ["text"], "doc_id",
                         carry_cols=["n_chars", "source"])
        (ex.select(F.col("keep_id").alias("doc_id"), "text", "n_chars", "source", "n_copies")
         .write.parquet(f"{out}/exact"))

    def near():
        docs = spark.read.parquet(f"{out}/exact")
        minhash_near_dups(docs, threshold=0.8, n_hashes=16, bands=8).write.parquet(f"{out}/pairs")
        drop = spark.read.parquet(f"{out}/pairs").select(F.greatest("doc_a", "doc_b").alias("doc_id"))
        docs.join(drop, "doc_id", "left_anti").write.parquet(f"{out}/near")

    def substr():
        docs = spark.read.parquet(f"{out}/near")
        sub = substring_dedup(docs, min_tokens=50)
        (docs.join(sub.select("doc_id", "n_tokens", "n_tokens_kept", "dedup_text"), "doc_id")
         .write.parquet(f"{out}/substr"))

    def decon():
        docs = spark.read.parquet(f"{out}/substr")
        flags = decontaminate(docs, spark.read.parquet(f"{st['inp']['dir']}/eval"), n=DECONTAM_N)
        docs.join(flags.filter("contaminated = 0").select("doc_id"), "doc_id") \
            .write.parquet(f"{out}/keepers")

    def keepers_land():
        # benchmark glue: the keepers' embeddings as one file in the
        # index query's source directory
        keep = spark.read.parquet(f"{out}/keepers").select(F.col("doc_id").alias("vec_id"))
        spark.read.parquet(f"{src}/emb").join(keep, "vec_id").coalesce(1) \
            .write.parquet(f"{out}/emb_keepers")
        part = glob.glob(f"{out}/emb_keepers/part-*.parquet")[0]
        shutil.copyfile(part, f"{root}/stream/.shard{k}.parquet")

    def append():
        # the file lands inside this span, so every job of the batch does
        os.rename(f"{root}/stream/.shard{k}.parquet", f"{root}/stream/shard{k}.parquet")
        q = st["query"]
        q.processAllAvailable()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))

    def search():
        rows = ivfpq_search_index(spark, f"{root}/index", spark.read.parquet(f"{st['inp']['dir']}/queries"),
                                  k=K, nprobe=s["nprobe"]).select("query_id", "neighbor_id").collect()
        rec["rows"] = [(int(r[0]), int(r[1])) for r in rows]

    t0 = time.perf_counter()
    for name, fn in zip(STAGES, (prof, exact, near, substr, decon)):
        stage(name, fn)
    stage("glue:keepers", keepers_land)
    stage("ann_sink:append", append)
    stage("similarity:search", search)
    rec["s"] = time.perf_counter() - t0
    st["ops"].append(rec)


def instrument(run) -> None:
    """Traced runs only: spans around the two calls the index query
    makes into the program on every batch."""
    from flink_etl_spark.streaming import ann_sink

    def wrap(layer, fn):
        def traced(*a, **kw):
            with run.tracer.span(layer):
                return fn(*a, **kw)
        return traced

    ann_sink.ivfpq_append_index = wrap("similarity:append", ann_sink.ivfpq_append_index)
    ann_sink.compact_ann_index = wrap("ann_sink:compact", ann_sink.compact_ann_index)


def measure(run, st: dict, seconds: float) -> None:
    st["t_window"] = time.time()
    t0 = time.perf_counter()
    n_shards = len(st["inp"]["truth"])
    while st["next"] < n_shards and (len(st["ops"]) < 2 or time.perf_counter() - t0 < seconds):
        _op(run, st)
    st["query"].stop()


# ------------------------------------------------------------ post-run

_M64 = (1 << 64) - 1
_P1, _P2, _P3 = 0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9
_P4, _P5 = 0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5
#: `decontaminate`'s documented gram-id scheme (hashing.MERSENNE_P,
#: `combine_gram_ids`): token id = pmod(xxhash64(token, seed 42), P);
#: gram id = polynomial fold (acc * 131 + token id) mod P
GRAM_P = 2**31 - 1
GRAM_MULT = 131


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _round(acc: int, lane: int) -> int:
    return (_rotl((acc + lane * _P2) & _M64, 31) * _P1) & _M64


def xxh64(data: bytes, seed: int) -> int:
    """XXH64 as Spark's `xxhash64` computes it, as a signed 64-bit int."""
    n, i = len(data), 0
    if n >= 32:
        v = [(seed + _P1 + _P2) & _M64, (seed + _P2) & _M64, seed & _M64, (seed - _P1) & _M64]
        while i + 32 <= n:
            for j in range(4):
                v[j] = _round(v[j], int.from_bytes(data[i + 8 * j: i + 8 * j + 8], "little"))
            i += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)) & _M64
        for x in v:
            h = ((h ^ _round(0, x)) * _P1 + _P4) & _M64
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        h ^= _round(0, int.from_bytes(data[i: i + 8], "little"))
        h = (_rotl(h, 27) * _P1 + _P4) & _M64
        i += 8
    if i + 4 <= n:
        h ^= (int.from_bytes(data[i: i + 4], "little") * _P1) & _M64
        h = (_rotl(h, 23) * _P2 + _P3) & _M64
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _M64
        h = (_rotl(h, 11) * _P1) & _M64
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M64
    h ^= h >> 29
    h = (h * _P3) & _M64
    h ^= h >> 32
    return h - (1 << 64) if h >> 63 else h


def _grams(text: str, n: int) -> set[tuple]:
    toks = re.split(" +", text)
    return {tuple(toks[i: i + n]) for i in range(len(toks) - n + 1)}


def _gram_ids(grams: set[tuple], token_id: dict) -> set[int]:
    out = set()
    for g in grams:
        acc = 0
        for tok in g:
            if tok not in token_id:
                token_id[tok] = xxh64(tok.encode(), 42) % GRAM_P
            acc = (acc * GRAM_MULT + token_id[tok]) % GRAM_P
        out.add(acc)
    return out


def contamination(docs: pa.Table, evals: pa.Table, n: int) -> dict:
    """Decontamination references. `docs`: documents sharing a token
    n-gram with an eval document (exact). `hashed`: documents sharing a
    gram id under the operator's documented 31-bit scheme, which adds
    the ones a gram-id collision can flag."""
    eval_grams = set().union(*(_grams(t, n) for t in evals["text"].to_pylist()))
    token_id: dict[str, int] = {}
    eval_ids = _gram_ids(eval_grams, token_id)
    hit, hashed = set(), set()
    for d, t in zip(docs["doc_id"].to_pylist(), docs["text"].to_pylist()):
        g = _grams(t, n)
        if g & eval_grams:
            hit.add(d)
        if _gram_ids(g, token_id) & eval_ids:
            hashed.add(d)
    return {"docs": hit, "hashed": hashed}


def _read(path: str, cols: list[str]) -> dict:
    return pq.read_table(path, columns=cols).to_pydict()


def _vectors(paths: list[str]) -> tuple[np.ndarray, np.ndarray]:
    t = pa.concat_tables([pq.read_table(p) for p in paths])
    ids = t["vec_id"].to_numpy()
    vecs = np.array(t["embedding"].to_pylist(), dtype=np.float64)
    return ids, vecs


def recall(index_vecs: np.ndarray, index_ids: np.ndarray, queries: np.ndarray,
           query_ids: np.ndarray, rows: list[tuple[int, int]]) -> float:
    """recall@K of one search batch against numpy brute-force cosine."""
    corpus = index_vecs / np.linalg.norm(index_vecs, axis=1, keepdims=True)
    q = queries / np.linalg.norm(queries, axis=1, keepdims=True)
    top = np.argsort(-(q @ corpus.T), axis=1, kind="stable")[:, :K]
    got: dict[int, set] = {int(i): set() for i in query_ids}
    for qi, nb in rows:
        got.setdefault(qi, set()).add(nb)
    return float(np.mean([len(got[int(qi)] & set(index_ids[t].tolist())) / K
                          for qi, t in zip(query_ids, top)]))


def check_shard(run, inp: dict, rec: dict) -> None:
    k, out = rec["shard"], rec["out"]
    truth = inp["truth"][k]
    docs = pq.read_table(f"{inp['dir']}/shard{k}/docs", columns=["doc_id", "text"])
    ref = contamination(docs, pq.read_table(f"{inp['dir']}/eval"), DECONTAM_N)
    if ref["docs"] != set(truth["contaminated"]):
        run.fail(f"llm_data shard {k}: exact n-gram contamination differs from the planted set")
    try:
        kp = _read(f"{out}/keepers", ["doc_id", "n_copies"])
        sub = _read(f"{out}/substr", ["n_tokens", "n_tokens_kept"])
        pairs = _read(f"{out}/pairs", ["doc_a"])
    except OSError as e:
        run.fail(f"llm_data shard {k}: output missing ({e})")
        return
    got = dict(zip(kp["doc_id"], kp["n_copies"]))
    want = {int(d): n for d, n in truth["keepers"].items()}
    # a keeper may be missing only if decontaminate could flag it through
    # a gram-id collision of its documented 31-bit scheme
    missing = set(want) - set(got) - (ref["hashed"] - ref["docs"])
    extra = set(got) - set(want)
    wrong = sum(got[d] != n for d, n in want.items() if d in got)
    if missing or extra or wrong:
        run.fail(f"llm_data shard {k}: keepers differ from ground truth ({len(missing)} missing, "
                 f"{len(extra)} extra, {wrong} wrong n_copies)")
    if len(pairs["doc_a"]) != truth["near_pairs"]:
        run.fail(f"llm_data shard {k}: {len(pairs['doc_a'])} near-dup pairs, "
                 f"planted {truth['near_pairs']}")
    shortened = sum(1 for a, b in zip(sub["n_tokens"], sub["n_tokens_kept"]) if a != b)
    if shortened != truth["shortened"]:
        run.fail(f"llm_data shard {k}: substring stage shortened {shortened} documents, "
                 f"expected {truth['shortened']}")
    rec["pairs"] = len(pairs["doc_a"])
    rec["keepers"] = sorted(got)


def check(run, st: dict) -> None:
    inp, root = st["inp"], st["root"]
    for rec in st["ops"]:
        check_shard(run, inp, rec)
    base_ids, base_vecs = _vectors([f"{inp['dir']}/base/part-0.parquet"])
    q_ids, q_vecs = _vectors([f"{inp['dir']}/queries/part-0.parquet"])
    ids, vecs = [base_ids], [base_vecs]
    recalls = []
    for rec in st["ops"]:
        e_ids, e_vecs = _vectors([f"{inp['dir']}/shard{rec['shard']}/emb/part-0.parquet"])
        keep = np.isin(e_ids, np.array(rec.get("keepers", []), dtype=np.int64))
        ids.append(e_ids[keep])
        vecs.append(e_vecs[keep])
        recalls.append(recall(np.concatenate(vecs), np.concatenate(ids), q_vecs, q_ids, rec["rows"]))
    st["recalls"] = recalls
    if min(recalls) < RECALL_FLOOR:
        run.fail(f"llm_data: recall@{K} {min(recalls):.3f} below the floor {RECALL_FLOOR}")
    want = np.sort(np.concatenate(ids))
    try:
        got = np.sort(pq.read_table(f"{root}/index/cells", columns=["vec_id"])["vec_id"].to_numpy())
        if not np.array_equal(got, want):
            run.fail(f"llm_data: index holds {len(got)} rows / {len(np.unique(got))} ids, "
                     f"expected {len(want)} ids once each")
    except (OSError, KeyError) as e:
        run.fail(f"llm_data: cannot read the index cells ({e})")


def _timed(st: dict) -> list[dict]:
    return st["ops"][1:]


def results(run, st: dict) -> None:
    ops = _timed(st)
    secs = [r["s"] for r in ops]
    docs = sum(st["inp"]["truth"][r["shard"]]["docs"] for r in ops)
    run.put("throughput_per_s", docs / sum(secs), "1/s", len(ops))
    run.put_samples("latency_p50_s", secs, "s")
    run.put("shard_max_s", max(secs), "s", len(secs))
    run.put_samples("search_p90_s", [r["similarity:search"] for r in ops], "s", q=0.9)
    run.put_drift("llm_data.drift", secs)
    run.put("similarity.recall_at_10", float(np.mean(st["recalls"][1:])), "ratio", len(ops))
    for name in STAGES + ("glue:keepers", "ann_sink:append", "similarity:search"):
        run.put_samples(f"op.{name.replace(':', '.')}_p50_s", [r[name] for r in ops], "s")


def layers(run, st: dict) -> None:
    tr = run.tracer
    n = len(_timed(st))
    timed = [s for s in tr.spans if s.t0 >= st["t_window"]]

    def named(name):
        return [s for s in timed if s.name == name]

    run.put_samples("text.profile_s", [s.wall_s for s in named("text:profile")], "s")
    run.put_samples("dedup.exact_s", [s.wall_s for s in named("dedup:exact")], "s")
    run.put_samples("dedup.minhash_s", [s.wall_s for s in named("dedup:minhash")], "s")
    run.put_samples("prep.substring_s", [s.wall_s for s in named("prep:substring")], "s")
    run.put_samples("prep.decontam_s", [s.wall_s for s in named("prep:decontam")], "s")
    pairs = sum(r.get("pairs", 0) for r in _timed(st)) / n
    cands = tr.sql_join_rows(named("dedup:minhash")) / n
    run.put("dedup.minhash_pairs", pairs, "count", n)
    run.put("dedup.minhash_candidates", cands, "count", n)
    run.put("dedup.minhash_pair_yield", pairs / cands if cands else 0.0, "ratio", n)
    run.put_samples("similarity.append_s", [s.wall_s for s in named("similarity:append")], "s")
    searches = named("similarity:search")
    run.put_samples("similarity.search_p50_s", [s.wall_s for s in searches], "s")
    run.put("similarity.cands_per_query",
            tr.sql_join_rows(searches) / (n * SIZES[run.size]["queries"]), "count", n)
    run.put_samples("ann_sink.batch_p50_s", [s.wall_s for s in named("ann_sink:append")], "s")
    run.put_samples("ann_sink.compact_s", [s.wall_s for s in named("ann_sink:compact")], "s")
    cells = f"{st['root']}/index/cells"
    per_cell = [len(glob.glob(f"{cells}/{d}/*.parquet")) for d in os.listdir(cells)
                if d.startswith("cell_id=")]
    run.put("ann.files_per_cell", float(np.mean(per_cell)), "count", len(per_cell))
    build = [s for s in tr.spans if s.name == "similarity:build"]
    run.put("similarity.build_s", sum(s.wall_s for s in build), "s")
    run.put("similarity.build_driver_s", tr.counts(build)["driver_s"], "s")
    layer_spans = {layer: [s for s in timed if s.layer == layer]
                   for layer in ("text", "dedup", "prep", "similarity", "ann_sink")}
    # an op makes one call into each layer (two into dedup and prep)
    put_layer_counts(run, {layer: (spans, n) for layer, spans in layer_spans.items()})
