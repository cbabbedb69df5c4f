"""Seeded input generation for the benchmark workloads.

Nothing here is timed. Every generator is a pure function of its
arguments, and every file it writes lands under the work directory
inside the checkout, keyed by what produced it, so a second run with
the same seed reuses the bytes instead of generating them again.
"""

from __future__ import annotations

import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- extract_bulk


def extract_corpus(spark, work: str, n_docs: int, seed: int,
                   partitions: int):
    """The bench corpus (sources.bench_corpus: 80/15/5 text/mixed/
    media-heavy) for ``seed`` in ``partitions`` files, cached as parquet
    under ``work``."""
    from n8n_tools_api_spark.sources import bench_corpus

    return bench_corpus(spark, n_docs, seed=seed, partitions=partitions,
                        cache_dir=os.path.join(work, "corpus"))


# ---------------------------------------------------------------- curate_pack

BLOCKED_DOMAINS = ["badsite.org", "tracker.net"]
BLOCKED_TERMS = ["casino"]
BIG_HOST = "bighost.example"
HOST_CAP = 5
SAMPLE_RATE = 0.5
SAMPLE_SEED = 42
# planted shares of the base corpus; each case picks distinct base docs
PLANT_RATES = {
    "copy": 0.05,        # exact copy of a base doc            -> exact_dup
    "mutant": 0.04,      # one word swapped in a long line     -> near_dup
    "blocked": 0.04,     # URL on a blocked domain / term      -> rejected_url
    "bighost": 0.05,     # all on one host, well over the cap  -> host cap
    "donor": 0.04,       # donates a 21-word window to bench   -> contaminated
}
# words that never occur in the generator's vocabulary
_MUTANT_WORD = "zebra"
_FILLER_WORDS = ("alpha bravo charlie delta echo foxtrot golf hotel india "
                 "juliet kilo lima mike november oscar papa quebec romeo "
                 "sierra tango uniform victor whiskey xray yankee zulu").split()


def _extracted_text(spans: list[dict]) -> str:
    """The text the pipeline curates: extracted text spans, in output
    order, one per line (the Spark side builds the same string)."""
    from n8n_tools_api_spark.refsem import extract_document

    return "\n".join(s["text"] for s in extract_document(spans)
                     if s["kind"] == "text")


def _c4_kept_line(line: str) -> bool:
    line = line.strip()
    return (line.endswith((".", "!", "?", '"')) and len(line.split()) >= 5
            and "javascript" not in line.lower())


def _mutate(spans: list[dict], rng: random.Random) -> list[dict] | None:
    """Swap one word in the middle of the longest ``text`` span; None
    when the doc has no text span long enough to stay a near-dup."""
    texts = [i for i, s in enumerate(spans)
             if s["kind"] == "text" and len(s["text"].split()) >= 24]
    if not texts:
        return None
    i = max(texts, key=lambda j: len(spans[j]["text"]))
    words = spans[i]["text"].split(" ")
    pos = rng.randrange(len(words) // 3, 2 * len(words) // 3)
    if not words[pos].isalpha():
        return None
    words[pos] = _MUTANT_WORD
    out = [dict(s) for s in spans]
    out[i]["text"] = " ".join(words)
    return out


def _donor_window(text: str) -> str | None:
    """Words 3..23 of the first C4-kept line with at least 25 words."""
    for line in text.split("\n"):
        words = line.split()
        if len(words) >= 25 and _c4_kept_line(line):
            return " ".join(words[2:23])
    return None


def curate_corpus(work: str, n_docs: int, seed: int) -> dict:
    """Seeded interleaved corpus for the composed pipeline, with planted
    cases at known rates (PLANT_RATES). Base documents come from
    ``sources.generate_bench_doc``, so the length distribution is the
    bench generator's.

    Returns the paths of the corpus and benchmark parquet files plus
    the plant manifest (which ids were planted as what)."""
    from n8n_tools_api_spark.sources import generate_bench_doc

    out_dir = os.path.join(work, "curate", f"n{n_docs}_s{seed}")
    manifest_path = os.path.join(out_dir, "manifest.json")
    if os.path.exists(manifest_path):
        with open(manifest_path) as f:
            return json.load(f)
    rng = random.Random(seed * 7919 + n_docs)
    base = {f"doc-{i:05d}": generate_bench_doc(i, seed=seed)
            for i in range(n_docs)}
    texts = {d: _extracted_text(s) for d, s in base.items()}
    ids = sorted(base)
    pool = ids[:]
    rng.shuffle(pool)

    def take(kind: str, ok=lambda d: True) -> list[str]:
        want = round(PLANT_RATES[kind] * n_docs)
        got = [d for d in pool if ok(d)][:want]
        for d in got:
            pool.remove(d)
        return sorted(got)

    # the originals of copies and mutants keep a unique-host URL, so
    # nothing upstream of dedup can separate them from their plants
    mutants = {}
    for d in take("mutant", lambda d: len(texts[d].split()) >= 100):
        m = _mutate(base[d], rng)
        if m is not None and _extracted_text(m) != texts[d]:
            mutants[d] = m
    copies = take("copy", lambda d: texts[d] != "")
    donors = {d: w for d in take("donor")
              if (w := _donor_window(texts[d])) is not None}
    blocked = take("blocked")
    bighost = take("bighost")

    def url(d: str, i: int) -> str:
        if d in blocked:
            if i % 4 == 3:
                return f"https://h{i}.example/casino-{i}"
            dom = BLOCKED_DOMAINS[i % 2]
            return f"https://{'www' if i % 3 else 'news'}.{dom}/p{i}"
        if d in bighost:
            return f"https://{BIG_HOST}/p{i}"
        return f"https://h{i}.example/p"

    rows = []
    for i, d in enumerate(ids):
        rows.append((d, url(d, i), base[d]))
    for j, d in enumerate(copies):
        rows.append((f"{d}-copy", f"https://c{j}.example/p", base[d]))
    for j, (d, m) in enumerate(sorted(mutants.items())):
        rows.append((f"{d}-mut", f"https://m{j}.example/p", m))

    bench_rows = sorted(donors.values())
    frng = random.Random(seed)
    for _ in range(20):  # eval rows that overlap no document
        bench_rows.append(" ".join(frng.choice(_FILLER_WORDS)
                                   for _ in range(30)))

    os.makedirs(out_dir, exist_ok=True)
    span_t = pa.list_(pa.struct([("kind", pa.string()), ("text", pa.string()),
                                 ("media_ref", pa.string()),
                                 ("offset", pa.int32())]))
    pq.write_table(pa.table({
        "doc_id": [r[0] for r in rows],
        "url": [r[1] for r in rows],
        "spans": pa.array([r[2] for r in rows], span_t),
    }), os.path.join(out_dir, "corpus.parquet"))
    pq.write_table(pa.table({"text": bench_rows}),
                   os.path.join(out_dir, "bench.parquet"))
    manifest = {
        "corpus": os.path.join(out_dir, "corpus.parquet"),
        "bench": os.path.join(out_dir, "bench.parquet"),
        "n_base": n_docs,
        "n_docs": len(rows),
        "copies": copies,
        "mutants": sorted(mutants),
        "blocked": blocked,
        "bighost": bighost,
        "donors": sorted(donors),
    }
    with open(manifest_path, "w") as f:
        json.dump(manifest, f)
    return manifest


# ---------------------------------------------------------------- registry_mix

SF_SEED = 20261017  # fixed: every run queries the same tables


def sf_tables(work: str) -> str:
    """A seeded sf0.01-sized star schema plus documents/embeddings with
    the schemas and value ranges of the engine's testdata tables.
    Fixed across benchmark seeds; the seed only orders the query mix."""
    out = os.path.join(work, "sf", f"sf0.01_g{SF_SEED}")
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(SF_SEED)

    def write(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))

    n_doc, n_emb, n_cust, n_part, n_supp = 500, 500, 1500, 2000, 100
    n_ord, n_li, n_ev, n_users = 15000, 60000, 10000, 150

    write("region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    write("nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    vocab = np.array(
        "a agg batch big column customer data dup fast filter group hash "
        "join key line merge order part query row scan slow small sort "
        "spark stream table the value vector window".split())
    lens = rng.integers(10, 100, n_doc)
    words = vocab[rng.integers(0, len(vocab), int(lens.sum()))]
    offs = np.concatenate([[0], np.cumsum(lens)])
    texts = [" ".join(words[offs[i]:offs[i + 1]]) for i in range(n_doc)]
    langs = np.array(["en", "en", "en", "en", "zh", "es", "fr", "de"])
    write("documents", {
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": langs[rng.integers(0, len(langs), n_doc)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    v = rng.standard_normal((n_emb, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    write("embeddings", {
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())})

    segments = np.array(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD",
                         "BUILDING", "FURNITURE"])
    write("customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999, 10000, n_cust), 2),
        "c_mktsegment": segments[rng.integers(0, 5, n_cust)]})
    write("supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999, 10000, n_supp), 2)})
    adj = np.array(["large", "small", "new", "old", "hot", "cold", "red",
                    "blue"])
    noun = np.array(["ring", "bolt", "gear", "anvil", "widget", "gizmo",
                     "plate", "rod"])
    ptypes = np.array(["LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL",
                       "STANDARD"])
    write("part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)],
                                          " "),
                              noun[rng.integers(0, 8, n_part)]),
        "p_brand": [f"Brand#{i}" for i in rng.integers(0, 25, n_part)],
        "p_type": ptypes[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + 0.1 * (np.arange(n_part) % 1200),
                                  2)})

    day_us = 86_400_000_000
    base_day = np.datetime64("1995-01-01").astype("datetime64[us]") \
        .astype(np.int64)
    prios = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                      "5-LOW"])
    write("orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["P", "O", "F"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(900, 450000, n_ord), 2),
        "o_orderdate": pa.array(base_day + rng.integers(0, 2404, n_ord)
                                * day_us, pa.timestamp("us")),
        "o_orderpriority": prios[rng.integers(0, 5, n_ord)]})
    write("lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) * 0.01, 2),
        "l_returnflag": np.array(["N", "R", "A"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(base_day + rng.integers(1, 2500, n_li)
                               * day_us, pa.timestamp("us"))})
    ev_base = np.datetime64("2024-01-01").astype("datetime64[us]") \
        .astype(np.int64)
    etypes = np.array(["signup", "purchase", "view", "click", "error"])
    write("events", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ev_base + np.sort(rng.integers(0, 30 * day_us, n_ev)),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": etypes[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.uniform(0, 200, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    with open(os.path.join(out, "_DONE"), "w") as f:
        f.write("ok\n")
    return out
