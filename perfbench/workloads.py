"""The three workloads. Each one offers:

* ``prepare(ctx)``: make or load the seeded inputs (never timed);
* ``unit(ctx, state)``: one closed-loop unit of work, returning a list
  of timed operations ``(label, seconds, units_of_work, error)``;
* ``check(ctx, state)``: output checks, run after timing, returning
  ``[(name, ok, detail)]``;
* ``layers(ctx, state)``: per-layer numbers for the traced run.

Only the public functions of ``session``, ``sources``, ``operators.*``,
``refsem`` and ``plans`` are called.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import time

import inputs
from harness import Tracer

# --------------------------------------------------------------------- shared


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def _identity_batches(batches):
    yield from batches


def _norm(v):
    """Engine-neutral rendering of one result cell (Spark Row values
    and DuckDB values of the same result render the same)."""
    import datetime
    import decimal

    if v is None:
        return "\x00"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, int):
        return str(v)
    if isinstance(v, (float, decimal.Decimal)):
        f = float(v)
        return str(int(f)) if f.is_integer() and abs(f) < 2 ** 53 else repr(f)
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_norm(x)}" for k, x in
                              sorted(v.items())) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    if hasattr(v, "asDict"):
        return _norm(v.asDict())
    return str(v)


def result_hash(columns: list[str], rows: list[tuple]) -> str:
    """md5 over sorted columns and sorted normalized rows."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("\x02".join(_norm(r[i]) for i in order) for r in rows)
    h = hashlib.md5("\x01".join(columns[i] for i in order).encode())
    for line in lines:
        h.update(line.encode())
        h.update(b"\x03")
    return h.hexdigest()


# --------------------------------------------------------------- extract_bulk


class ExtractBulk:
    """Bench corpus -> extract_spans -> parquet, one full pass per unit."""

    name = "extract_bulk"

    def __init__(self, n_docs: int = 6000, sample: int = 150):
        self.n_docs = n_docs
        self.sample = sample

    def prepare(self, ctx) -> dict:
        spark = ctx.spark
        corpus = inputs.extract_corpus(spark, ctx.work, self.n_docs,
                                       ctx.seed, 4 * ctx.cores)
        n = corpus.count()
        # bench.py's split sizing: ~4 task waves per core over the
        # corpus's ~900 B/doc parquet footprint
        est = max(n * 900, 1 << 20)
        ctx.set_conf("spark.sql.files.maxPartitionBytes",
                     str(max(est // (ctx.cores * 4), 1 << 20)))
        ctx.set_conf("spark.sql.files.openCostInBytes", str(128 * 1024))
        path = os.path.join(ctx.work, "corpus",
                            f"corpus_n{self.n_docs}_s{ctx.seed}.parquet")
        state = {"path": path, "n": n,
                 "out": os.path.join(ctx.work, "out", "extracted")}
        # one untimed pass: the first pass in a fresh JVM runs ~30%
        # slower (code generation, JIT, refsem imports in the workers)
        self._write(ctx, state)
        return state

    def _write(self, ctx, state) -> None:
        from n8n_tools_api_spark.operators import extract_spans

        extract_spans(ctx.spark.read.parquet(state["path"])) \
            .write.mode("overwrite").parquet(state["out"])

    def unit(self, ctx, state) -> list:
        with ctx.tracer.span("extract.pass"):
            sec = _timed(lambda: self._write(ctx, state))
        return [("pass", sec, state["n"], None)]

    def check(self, ctx, state) -> list:
        import pyarrow.dataset as ds
        from n8n_tools_api_spark.refsem import extract_document

        out = ctx.spark.read.parquet(state["out"])
        n_out = out.count()
        checks = [("row_count", n_out == state["n"],
                   f"{n_out} rows for {state['n']} docs")]
        rng = random.Random(ctx.seed)
        ids = sorted(rng.sample(range(state["n"]),
                                min(self.sample, state["n"])))
        want_ids = [f"bdoc_{i:08d}" for i in ids]
        src = ds.dataset(state["path"], format="parquet").to_table(
            filter=ds.field("doc_id").isin(want_ids)).to_pylist()
        got = {r["doc_id"]: [(s["kind"], s["text"], s["media_ref"],
                              s["offset"]) for s in r["spans"]]
               for r in out.where(out.doc_id.isin(want_ids)).collect()}
        if ctx.corrupt and got:
            d = sorted(got)[0]
            got[d] = [("text", "corrupted", "", 0)] + got[d][1:]
        bad = []
        for r in src:
            want = [(s["kind"], s["text"], s["media_ref"], s["offset"])
                    for s in extract_document(r["spans"])]
            if got.get(r["doc_id"]) != want:
                bad.append(r["doc_id"])
        checks.append(("span_sequence_equal_refsem",
                       not bad and len(src) == len(ids),
                       f"{len(src) - len(bad)}/{len(ids)} sampled docs equal"
                       + (f"; first mismatch {bad[0]}" if bad else "")))
        return checks

    def layers(self, ctx, state) -> dict:
        from n8n_tools_api_spark.operators import extract_spans

        spark = ctx.spark
        m: dict[str, float] = {}
        read = lambda: spark.read.parquet(state["path"])
        schema = read().schema
        with ctx.tracer.span("extract.layers"):
            t_scan = _timed(lambda: _noop(read()))
            t_rt = _timed(lambda: _noop(read().mapInPandas(
                _identity_batches, schema=schema)))
            t_udf = _timed(lambda: _noop(extract_spans(read())))
            w0 = time.time() * 1000
            t_par = _timed(lambda: self._write(ctx, state))
            w1 = time.time() * 1000
        m["sources.scan_s"] = t_scan
        m["extract.arrow_roundtrip_s"] = t_rt - t_scan
        m["extract.udf_s"] = t_udf - t_rt
        m["extract.write_s"] = t_par - t_udf
        ctx.windows["extract.parquet"] = (w0, w1)
        m.update(refsem_replay(ctx, state["path"]))
        return m


# refsem layers the driver-side replay times; every other refsem call
# is self time of extract_document
_REFSEM_LAYERS = {
    "clean_extracted_text": "refsem.clean_extracted_text",
    "strip_boilerplate": "refsem.strip_boilerplate",
    "render_document_text": "refsem.render_document_text",
    "validate_base64_image": "refsem.image",
    "classify_image_span": "refsem.image",
    "media_ref_for": "refsem.image",
}


def refsem_replay(ctx, corpus_path: str, n: int = 300) -> dict:
    """Replay extract_document on the driver over a seeded sample:
    per-document time untraced, then layer shares with each refsem
    entry point wrapped in a span."""
    import pyarrow.dataset as ds
    from n8n_tools_api_spark.refsem import extract_document
    from n8n_tools_api_spark.refsem import pipeline as refsem_pipeline

    table = ds.dataset(corpus_path, format="parquet").to_table()
    rng = random.Random(ctx.seed + 1)
    rows = table.take(sorted(rng.sample(range(table.num_rows),
                                        min(n, table.num_rows)))).to_pylist()
    docs = [r["spans"] for r in rows]
    t0 = time.perf_counter()
    for spans in docs:
        extract_document(spans)
    per_doc_us = (time.perf_counter() - t0) / len(docs) * 1e6

    tracer = ctx.tracer
    ascii_calls = [0, 0]
    originals = {}

    def wrap(fname, layer):
        fn = getattr(refsem_pipeline, fname)
        originals[fname] = fn

        def traced(*a, **kw):
            if fname == "clean_extracted_text":
                ascii_calls[0] += 1
                ascii_calls[1] += bool(a and a[0].isascii())
            with tracer.span(layer):
                return fn(*a, **kw)
        setattr(refsem_pipeline, fname, traced)

    for fname, layer in _REFSEM_LAYERS.items():
        wrap(fname, layer)
    try:
        with tracer.span("refsem.replay"):
            for spans in docs:
                with tracer.span("refsem.extract_document"):
                    refsem_pipeline.extract_document(spans)
    finally:
        for fname, fn in originals.items():
            setattr(refsem_pipeline, fname, fn)
    self_t = tracer.self_times()
    total = tracer.total("refsem.extract_document")
    out = {"refsem.extract_document_us": per_doc_us,
           "refsem.ascii_text_frac": ascii_calls[1] / max(ascii_calls[0], 1)}
    for layer in sorted(set(_REFSEM_LAYERS.values())):
        out[f"{layer}_share"] = self_t.get(layer, 0.0) / total
    return out


# ---------------------------------------------------------------- curate_pack


class CuratePack:
    """Planted interleaved corpus -> extract_spans -> text ->
    web_curation_keep_list(use_lsh=True) -> bpe_learn / bpe_encode ->
    token_pack -> write_training_shards, one full pipeline per unit."""

    name = "curate_pack"
    GATES = ["curation.url_gate", "textstats.c4", "textstats.gopher",
             "dedup.exact_near", "curation.host_cap",
             "decontaminate.ngram", "sampling"]
    # disposition that each gate hands out, in chain order
    _REJECT = ["rejected_url", "rejected_c4", "rejected_quality",
               ("exact_dup", "near_dup"), "rejected_host_cap",
               "contaminated", "sampled_out"]

    BLOCK_SIZE = 512
    N_SHARDS = 4

    def __init__(self, n_docs: int = 100, n_merges: int = 4):
        self.n_docs = n_docs
        self.n_merges = n_merges

    def prepare(self, ctx) -> dict:
        man = inputs.curate_corpus(ctx.work, self.n_docs, ctx.seed)
        out = os.path.join(ctx.work, "out", "curate")
        state = {"man": man, "out": out, "passes": 0,
                 "paths": {k: os.path.join(out, k) for k in
                           ("extracted", "dispositions", "encoded",
                            "packed", "shards")}}
        # one untimed pass: in a fresh JVM the first pass pays ~15 s of
        # one-off code generation and JIT, and varies by ~25% between
        # runs; later passes agree within a few percent
        tracer, ctx.tracer = ctx.tracer, Tracer(False)
        self.unit(ctx, state)
        ctx.tracer, state["passes"] = tracer, 0
        return state

    def _pages(self, ctx, state):
        from pyspark.sql import functions as F

        spark = ctx.spark
        ext = spark.read.parquet(state["paths"]["extracted"])
        text = F.concat_ws("\n", F.transform(
            F.filter("spans", lambda s: s["kind"] == "text"),
            lambda s: s["text"]))
        corpus = spark.read.parquet(state["man"]["corpus"])
        return ext.select("doc_id", text.alias("text")).join(
            corpus.select("doc_id", "url"), "doc_id")

    def _domains(self, ctx):
        return ctx.spark.createDataFrame(
            [(d,) for d in inputs.BLOCKED_DOMAINS], "domain string")

    def unit(self, ctx, state) -> list:
        from n8n_tools_api_spark.operators import extract_spans
        from n8n_tools_api_spark.operators.bpe import bpe_encode, bpe_learn
        from n8n_tools_api_spark.operators.curation import (
            web_curation_keep_list,
        )
        from n8n_tools_api_spark.operators.packing import (
            token_pack, write_training_shards,
        )

        spark, p, tr = ctx.spark, state["paths"], ctx.tracer
        t0 = time.perf_counter()
        with tr.span("pipeline"):
            with tr.span("extract.extract_spans"):
                corpus = spark.read.parquet(state["man"]["corpus"])
                extract_spans(corpus.select("doc_id", "spans")) \
                    .write.mode("overwrite").parquet(p["extracted"])
            pages = self._pages(ctx, state)
            bench = spark.read.parquet(state["man"]["bench"])
            with tr.span("curation.web_curation_keep_list"):
                web_curation_keep_list(
                    pages, self._domains(ctx), inputs.BLOCKED_TERMS, bench,
                    host_cap=inputs.HOST_CAP, sample_rate=inputs.SAMPLE_RATE,
                    sample_seed=inputs.SAMPLE_SEED, use_lsh=True,
                ).write.mode("overwrite").parquet(p["dispositions"])
            disp = spark.read.parquet(p["dispositions"])
            kept = disp.where(disp.status == "kept").select("doc_id") \
                .join(pages.select("doc_id", "text"), "doc_id")
            with tr.span("bpe.learn"):
                w0 = time.time() * 1000
                merges = [(r["left"], r["right"]) for r in
                          bpe_learn(kept, self.n_merges)
                          .orderBy("rank").collect()]
                ctx.windows["bpe.learn"] = (w0, time.time() * 1000)
            with tr.span("bpe.encode"):
                bpe_encode(kept, merges).write.mode("overwrite") \
                    .parquet(p["encoded"])
            enc = spark.read.parquet(p["encoded"])
            with tr.span("packing.token_pack"):
                token_pack(enc, self.BLOCK_SIZE, count_col="n_tokens") \
                    .write.mode("overwrite").parquet(p["packed"])
            with tr.span("packing.write_shards"):
                write_training_shards(
                    kept.join(enc.select("doc_id", "n_tokens"), "doc_id"),
                    p["shards"], self.N_SHARDS)
        sec = time.perf_counter() - t0
        state["passes"] += 1
        return [("pipeline", sec, state["man"]["n_docs"], None)]

    # -------------------------------------------------------------- checks

    def _statuses(self, ctx, state) -> tuple[dict, int]:
        disp = ctx.spark.read.parquet(state["paths"]["dispositions"])
        return {r["doc_id"]: (r["status"], r["canonical"])
                for r in disp.collect()}, disp.count()

    def gate_counts(self, status: dict, n_docs: int) -> dict:
        """docs in / docs out per gate, read off the disposition log."""
        counts: dict[str, int] = {}
        for s, _ in status.values():
            counts[s] = counts.get(s, 0) + 1
        out, n_in = {}, n_docs
        for gate, rej in zip(self.GATES, self._REJECT):
            rej = rej if isinstance(rej, tuple) else (rej,)
            n_out = n_in - sum(counts.get(r, 0) for r in rej)
            out[gate] = (n_in, n_out)
            n_in = n_out
        return out

    def check(self, ctx, state) -> list:
        man, p = state["man"], state["paths"]
        spark = ctx.spark
        status, n_rows = self._statuses(ctx, state)
        if ctx.corrupt and man["copies"]:
            # a planted copy that dedup let through
            status[man["copies"][0] + "-copy"] = ("kept", None)
        corpus_ids = {r["doc_id"] for r in spark.read.parquet(man["corpus"])
                      .select("doc_id").collect()}
        checks = [("one_disposition_per_doc",
                   n_rows == len(status) == len(corpus_ids)
                   and set(status) == corpus_ids,
                   f"{n_rows} rows, {len(status)} ids, "
                   f"{len(corpus_ids)} docs")]
        early = {"rejected_url", "rejected_c4", "rejected_quality"}

        bad = [d for d in man["copies"]
               if (status[d][0] in early and status[f"{d}-copy"][0]
                   != status[d][0])
               or (status[d][0] not in early
                   and status[f"{d}-copy"] != ("exact_dup", d))]
        checks.append(("copies_exact_dup_of_original", not bad,
                       f"{len(man['copies']) - len(bad)}/"
                       f"{len(man['copies'])} planted copies"))

        url_rej = sorted(d for d, (s, _) in status.items()
                         if s == "rejected_url")
        checks.append(("url_gate_rejects_planted", url_rej == man["blocked"],
                       f"{len(url_rej)} rejected, {len(man['blocked'])} "
                       "planted"))

        reach_cap = {"kept", "sampled_out", "contaminated",
                     "rejected_host_cap"}
        big = [d for d in man["bighost"] if status[d][0] in reach_cap]
        capped = sorted(d for d, (s, _) in status.items()
                        if s == "rejected_host_cap")
        checks.append(("host_cap_rejects_overflow",
                       capped == sorted(big)[inputs.HOST_CAP:],
                       f"{len(capped)} capped of {len(big)} on "
                       f"{inputs.BIG_HOST}"))

        reach_dec = {"kept", "sampled_out", "contaminated"}
        cont = sorted(d for d, (s, _) in status.items()
                      if s == "contaminated")
        want = sorted(d for d in man["donors"] if status[d][0] in reach_dec)
        checks.append(("decontam_flags_donors", cont == want,
                       f"{len(cont)} contaminated, {len(want)} donors "
                       "reached the stage"))

        kept = sorted(d for d, (s, _) in status.items() if s == "kept")
        enc = spark.read.parquet(p["encoded"])
        packed = spark.read.parquet(p["packed"])
        enc_sum = enc.agg({"n_tokens": "sum"}).collect()[0][0] or 0
        pack_sum = packed.agg({"n_tokens": "sum"}).collect()[0][0] or 0
        checks.append(("token_pack_sum_equals_encode_sum",
                       enc_sum == pack_sum and enc.count() == len(kept),
                       f"pack {pack_sum}, encode {enc_sum}"))
        shard_ids = sorted(r["doc_id"] for r in
                           spark.read.json(p["shards"]).select("doc_id")
                           .collect())
        checks.append(("shards_cover_kept_once", shard_ids == kept,
                       f"{len(shard_ids)} shard rows, {len(kept)} kept"))
        state["status"] = status
        return checks

    # -------------------------------------------------------------- layers

    def layers(self, ctx, state) -> dict:
        from pyspark.sql import functions as F

        from n8n_tools_api_spark.operators.curation import (
            canonical_host, cleaned_documents, curation_keep_list,
            per_host_cap, url_blocklist_filter,
        )
        from n8n_tools_api_spark.operators.decontaminate import (
            ngram_decontaminate,
        )
        from n8n_tools_api_spark.operators.dedup import (
            minhash_lsh_candidates, ngram_jaccard_pairs,
        )
        from n8n_tools_api_spark.operators.sampling import (
            sample_key, sample_threshold_hex,
        )
        from n8n_tools_api_spark.operators.textstats import (
            c4_line_filter, gopher_repetition,
        )

        spark, tr = ctx.spark, ctx.tracer
        status = state["status"]
        m: dict[str, float] = {}
        for gate, (n_in, n_out) in self.gate_counts(
                status, state["man"]["n_docs"]).items():
            m[f"{gate}.docs_in"] = n_in
            m[f"{gate}.docs_out"] = n_out
        st = spark.createDataFrame(
            [(d, s) for d, (s, _) in status.items()],
            "doc_id string, status string")
        pages = self._pages(ctx, state)
        stage_dir = os.path.join(state["out"], "stages")

        def staged(name, df):
            path = os.path.join(stage_dir, name)
            df.write.mode("overwrite").parquet(path)
            return spark.read.parquet(path)

        def ids(*statuses):
            return st.where(F.col("status").isin(*statuses)).select("doc_id")

        after_url = ("rejected_c4", "rejected_quality", "exact_dup",
                     "near_dup", "rejected_host_cap", "contaminated",
                     "sampled_out", "kept")
        c4_in = staged("c4_in", pages.join(ids(*after_url), "doc_id")
                       .select("doc_id", "text"))
        c4_out = staged("c4_out", c4_line_filter(c4_in))
        clean = c4_out.where("c4_keep").select(
            "doc_id", F.col("clean_text").alias("text"))
        gopher_in = staged("gopher_in", clean)
        dedup_in = staged("dedup_in", clean.join(
            ids(*after_url[2:]), "doc_id"))
        cap_in = staged("cap_in", ids(*after_url[4:]).join(
            pages.select("doc_id", canonical_host(F.col("url"))
                         .alias("host")), "doc_id"))
        dec_in = staged("dec_in", clean.join(ids(*after_url[5:]), "doc_id"))
        samp_in = staged("samp_in", ids("sampled_out", "kept"))
        bench = spark.read.parquet(state["man"]["bench"])
        thr = F.lit(sample_threshold_hex(inputs.SAMPLE_RATE))
        runs = {
            "curation.url_gate": lambda: url_blocklist_filter(
                pages.select("doc_id", "url"), self._domains(ctx),
                inputs.BLOCKED_TERMS),
            "textstats.c4": lambda: c4_line_filter(c4_in),
            "textstats.gopher": lambda: gopher_repetition(gopher_in),
            "dedup.exact_near": lambda: curation_keep_list(
                dedup_in, use_lsh=True),
            "curation.host_cap": lambda: per_host_cap(
                cap_in, cap=inputs.HOST_CAP, host_col="host"),
            "decontaminate.ngram": lambda: ngram_decontaminate(
                dec_in, bench, n=13),
            "sampling": lambda: samp_in.where(
                sample_key(F.col("doc_id"), inputs.SAMPLE_SEED) < thr),
        }
        with tr.span("curate.gates"):
            for gate, build in runs.items():
                with tr.span(gate) as s:
                    _noop(build())
                m[f"{gate}_s"] = s["end"] - s["start"] if s else 0.0
            with tr.span("dedup.lsh"):
                survivors = staged("lsh_in", cleaned_documents(
                    dedup_in.join(ids("near_dup", *after_url[4:]),
                                  "doc_id")))
                cands = minhash_lsh_candidates(
                    survivors, text_col="clean_text") \
                    .where(F.col("n_shared_bands") >= 2) \
                    .select("doc_a", "doc_b")
                n_cand = cands.count()
                n_pairs = ngram_jaccard_pairs(
                    survivors, text_col="clean_text", k=5, threshold=0.5,
                    candidate_pairs=cands).count()
        m["dedup.lsh_precision"] = n_pairs / n_cand if n_cand else 1.0
        # pipeline stages: mean seconds per measured pass
        for name in ("bpe.learn", "bpe.encode", "packing.token_pack",
                     "packing.write_shards"):
            m[f"{name}_s"] = tr.total(name) / state["passes"]
        return m


# --------------------------------------------------------------- registry_mix

# Leaves that the scan-rescue flags and the keep-list chains touch,
# plus the two round-6 laggards.
DIRECTION_LEAVES = [
    # scan-rescue sites
    "q10_returned_items", "nation_revenue_rollup", "exact_dedup_stats",
    "url_landing", "c4_line_filter", "c4_span_dedup", "host_cap_keep_list",
    "c4_badwords", "corpus_expectations", "boilerplate_strip",
    "mixture_sample_report", "exact_substr_dedup", "quality_classifier",
    "line_dedup", "repeated_line_strip",
    # keep-list chains (the curation fixture also carries a rescue site)
    "curation_keep_list", "curation_quality_keep_list",
    "classifier_curation_keep_list", "c4_curation_keep_list",
    "web_curation_keep_list", "web_dedup_keep_list", "ccnet_keep_list",
    # round-6 laggards
    "gopher_word_stats", "host_link_stats",
]
# The timed mix: ten direction leaves, the decontamination leaf (the
# O(words²) gram fold) and one rows-only leaf. A cold pass over all 24
# direction leaves takes ~70 s on 4 cores, more than one run can spend;
# the traced run times the other fourteen after the mix.
TIMED_LEAVES = [
    "q10_returned_items", "nation_revenue_rollup", "exact_dedup_stats",
    "c4_line_filter", "host_cap_keep_list", "boilerplate_strip",
    "mixture_sample_report", "web_dedup_keep_list", "gopher_word_stats",
    "host_link_stats", "benchmark_decontam", "multimodal_decode_stats",
]
# untimed, before the mix: the session's first SQL job pays JIT warm-up
WARMUP_LEAF = "events_type_stats"


class RegistryMix:
    """A seeded shuffle of registry leaves over a seeded sf0.01-sized
    star schema, one query at a time. One pass is one unit."""

    name = "registry_mix"

    def __init__(self, leaves: list[str] = TIMED_LEAVES,
                 traced_extra: list[str] | None = None):
        self.leaves = leaves
        self.traced_extra = [n for n in DIRECTION_LEAVES if n not in leaves] \
            if traced_extra is None else traced_extra

    def prepare(self, ctx) -> dict:
        from n8n_tools_api_spark.plans import all_queries

        sf = inputs.sf_tables(ctx.work)
        order = sorted(self.leaves)
        random.Random(ctx.seed).shuffle(order)
        queries = all_queries()
        queries[WARMUP_LEAF](ctx.spark, sf).collect()
        return {"sf": sf, "order": order, "queries": queries,
                "oracles": oracle_hashes(sf, self.leaves), "results": {}}

    def _run(self, ctx, state, name) -> float:
        fn = state["queries"][name]
        t0 = time.perf_counter()
        rows = fn(ctx.spark, state["sf"]).collect()
        sec = time.perf_counter() - t0
        cols = list(rows[0].__fields__) if rows else []
        state["results"][name] = (cols, [tuple(r) for r in rows])
        return sec

    def unit(self, ctx, state) -> list:
        ops = []
        for name in state["order"]:
            ctx.spark.sparkContext.setJobGroup(name, name)
            with ctx.tracer.span(f"leaf.{name}"):
                w0, t0 = time.time() * 1000, time.perf_counter()
                try:
                    sec, err = self._run(ctx, state, name), None
                except Exception as e:  # counted as a failed operation
                    sec, err = time.perf_counter() - t0, repr(e)[:200]
                ctx.windows[f"leaf.{name}"] = (w0, time.time() * 1000)
            ops.append((name, sec, 1, err))
        ctx.spark.sparkContext.setJobGroup("", "")
        return ops

    def check(self, ctx, state) -> list:
        checks = []
        for name in state["order"]:
            if name not in state["results"]:
                continue  # the failed query is already counted
            cols, rows = state["results"][name]
            if ctx.corrupt and name == state["order"][0]:
                rows = []  # a leaf that lost its result
            want = state["oracles"].get(name)
            if want is None:
                checks.append((name, len(rows) > 0, f"{len(rows)} rows"))
            else:
                got = result_hash(cols, rows) if rows else None
                # an empty Spark result has no column names to hash
                ok = got == want["hash"] if rows else want["rows"] == 0
                checks.append((name, ok, f"{len(rows)} rows, oracle "
                               f"{want['rows']}"))
        return checks

    def layers(self, ctx, state) -> dict:
        """Time the direction leaves the mix leaves out (not checked)."""
        for name in self.traced_extra:
            ctx.spark.sparkContext.setJobGroup(name, name)
            with ctx.tracer.span(f"leaf.{name}"):
                w0 = time.time() * 1000
                self._run(ctx, state, name)
                ctx.windows[f"leaf.{name}"] = (w0, time.time() * 1000)
        ctx.spark.sparkContext.setJobGroup("", "")
        return {}


def oracle_hashes(sf: str, leaves: list[str]) -> dict:
    """DuckDB oracle result hash per oracle-backed leaf, cached next to
    the tables (the tables are fixed, so the oracles are too)."""
    import duckdb

    from n8n_tools_api_spark.plans import all_oracles
    from n8n_tools_api_spark.sources import TABLES

    sqls = all_oracles()
    cache_path = os.path.join(sf, "oracle_hashes.json")
    cache = {}
    if os.path.exists(cache_path):
        with open(cache_path) as f:
            cache = json.load(f)
    out, con = {}, None
    for name in leaves:
        if name not in sqls or name in out:
            continue
        key = hashlib.sha256(sqls[name].encode()).hexdigest()[:16]
        if cache.get(name, {}).get("sql") != key:
            if con is None:
                con = duckdb.connect()
                for t in TABLES:
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                                f"read_parquet('{sf}/{t}.parquet')")
            cur = con.execute(sqls[name])
            cols = [d[0] for d in cur.description]
            rows = cur.fetchall()
            cache[name] = {"sql": key, "rows": len(rows),
                           "hash": result_hash(cols, rows)}
        out[name] = cache[name]
    if con is not None:
        con.close()
        with open(cache_path, "w") as f:
            json.dump(cache, f)
    return out


WORKLOADS = {w.name: w for w in (ExtractBulk, CuratePack, RegistryMix)}
