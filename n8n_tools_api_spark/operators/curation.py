"""Composed curation pipelines — the engine's end-to-end product story.

Every keep-list builder here (and ``lm_ppx.ccnet_keep_list``) returns
the reference's per-document output contract: ONE disposition row per
input document, ``(doc_id, status, canonical, ...)``. Each builder is
an ordered list of stages run by :func:`_ladder`:

* a stage judges only the rows still ``kept`` by the stages before it,
  so the first reject wins and a rejected doc never reaches a later
  (costlier) stage;
* ``canonical`` is the surviving representative for a duplicate (the
  first-by-id exact twin, the component minimum, the URL group's first
  doc), the doc itself when kept, and NULL for every rejection;
* a payload column (score, line counters, …) is NULL for any doc that
  never reached the stage that computes it.

The core chain is extract → clean (F1, inside extraction) → exact
content-hash dedup (A10) → near-dup pair generation → connected
components, with two near-dup strategies:

* ``use_lsh=False`` — exact n-gram Jaccard over all survivor pairs.
  Fully DuckDB-replayable, so the whole composed flow is oracle-checked
  end-to-end (plans/catalog.py ``curation_keep_list``).
* ``use_lsh=True`` — the 100-TB path: MinHash-LSH candidates
  (zero-shuffle signatures, banded bucket join) prefilter the pair
  stream, exact Jaccard then scores only candidates. Same output shape;
  recall is LSH-approximate by design (rows-only query + bench suite).

Scale notes: the only wide stages are the content-hash window (narrow
key, map-side combine), the shingle/bucket self-join, and the
components rounds; extraction and cleaning stay shuffle-free. Media
bytes never enter this flow — it runs on extracted text only.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _ladder(docs: DataFrame, stages: list, columns: list[str],
            checkpoint_dir: str | None = None) -> DataFrame:
    """Run ``stages`` — ``(name, judge)`` pairs — over ``docs`` and
    return the disposition log projected to ``columns``.

    A judge takes the rows still kept (the previous stage's payload
    columns, without ``status``/``canonical``) and returns them with
    ``status``, ``canonical`` where it has one, and the payload later
    stages read. Rows not ``kept`` go to the log, and so does every row
    of the last stage. A column a stage does not emit is NULL in its
    log rows.

    Every stage but the last feeds two consumers (the log and the next
    stage), so its output is cut once via RoundMaterializer under
    ``checkpoint_dir`` (parquet rounds; a localCheckpoint without it).
    Every cut is deferred: the first job that reads it computes its
    blocks (a later stage's own job, or the log's), and every later
    reader gets the cached blocks, so a cut costs no job of its own.
    """
    from n8n_tools_api_spark.operators.materialize import RoundMaterializer

    mat = RoundMaterializer(checkpoint_dir)
    rows, log = docs, []
    *cut, (_, last) = stages
    for name, judge in cut:
        judged = mat(judge(rows), name, eager=False)
        log.append(judged.where(F.col("status") != "kept"))
        rows = judged.where(F.col("status") == "kept") \
            .drop("status", "canonical")
    log.append(last(rows))
    return reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True),
                  log).select(*columns)


def _verdict(keep, reject: str):
    """``'kept'`` where ``keep`` holds, else the ``reject`` status."""
    return F.when(keep, F.lit("kept")).otherwise(F.lit(reject))


def cleaned_documents(docs: DataFrame) -> DataFrame:
    """(doc_id, clean_text): run the real extraction stage over text
    docs wrapped as one-span interleaved documents — the same
    mapInPandas path the flagship pipeline uses (extraction applies the
    F1 cleaning pass, ocr_response_formatter.py:148-173)."""
    from n8n_tools_api_spark.operators import extract_spans

    inter = docs.select(
        "doc_id",
        F.array(F.struct(
            F.lit("text").alias("kind"),
            F.col("text").alias("text"),
            F.lit("").alias("media_ref"),
            F.lit(0).cast("int").alias("offset"),
        )).alias("spans"),
    )
    return extract_spans(inter).select(
        "doc_id",
        # try_element_at, not element_at: a NULL/blank-text doc extracts
        # to ZERO spans and ANSI-mode element_at throws on the empty
        # array (caught by the hostile-input test) — such docs clean to
        # '' and dedup among themselves, matching the oracle's COALESCE
        F.coalesce(F.try_element_at("spans", F.lit(1)).getField("text"),
                   F.lit("")).alias("clean_text"),
    )


def _exact(rows: DataFrame) -> DataFrame:
    """Exact content-hash dedup on the extraction-cleaned text: the
    first doc_id of each md5 group is kept, the rest are ``exact_dup``
    of it. Payload: ``clean_text`` for the near-dup stage."""
    cleaned = cleaned_documents(rows)
    if set(rows.columns) != {"doc_id", "text"}:
        # extraction returns (doc_id, clean_text) only: join back the
        # payload a later stage reads (web: host, the C4-clean text)
        cleaned = rows.join(cleaned, "doc_id")
    w = Window.partitionBy("h").orderBy("doc_id")
    return (
        cleaned.withColumn("h", F.md5(F.col("clean_text").cast("binary")))
        .withColumns({
            "status": _verdict(F.row_number().over(w) == 1, "exact_dup"),
            "canonical": F.first("doc_id").over(w),
        })
        .drop("h")
    )


def _near(use_lsh: bool, threshold: float, k: int,
          checkpoint_dir: str | None):
    """Near-dup components over ``clean_text``: a doc whose component
    minimum is another doc is ``near_dup`` of it."""
    from n8n_tools_api_spark.operators.dedup import (
        minhash_lsh_candidates,
        near_dup_components,
        ngram_jaccard_pairs,
    )

    def judge(rows: DataFrame) -> DataFrame:
        survivors = rows.select("doc_id", "clean_text")
        cands = None
        if use_lsh:
            cands = (
                minhash_lsh_candidates(survivors, text_col="clean_text",
                                       checkpoint_banded=True,
                                       checkpoint_dir=checkpoint_dir)
                .where(F.col("n_shared_bands") >= 2)
                .select("doc_a", "doc_b")
            )
        # the shingle cut keeps the explode over the survivors from
        # executing once per consumer (df-cap build, per-doc sizes and
        # both self-join sides)
        pairs = ngram_jaccard_pairs(survivors, text_col="clean_text", k=k,
                                    threshold=threshold,
                                    candidate_pairs=cands,
                                    checkpoint_shingles=True,
                                    checkpoint_dir=checkpoint_dir)
        comp = near_dup_components(pairs.select("doc_a", "doc_b"),
                                   checkpoint_dir=checkpoint_dir)
        return (
            rows.drop("clean_text").join(comp, "doc_id", "left")
            .withColumns({
                "status": _verdict(
                    F.col("component").isNull()
                    | (F.col("component") == F.col("doc_id")), "near_dup"),
                "canonical": F.coalesce("component", F.col("doc_id")),
            })
            .drop("component")
        )

    return judge


def _dedup(use_lsh, threshold, k, checkpoint_dir) -> list:
    """The dedup stages every curation chain shares: exact → near."""
    return [("exact", _exact),
            ("near", _near(use_lsh, threshold, k, checkpoint_dir))]


def _gopher(rows: DataFrame) -> DataFrame:
    """The Gopher repetition gates → ``rejected_quality``."""
    from n8n_tools_api_spark.operators.textstats import gopher_repetition

    return (
        rows.join(gopher_repetition(rows).select("doc_id", "gopher_keep"),
                  "doc_id")
        .withColumn("status",
                    _verdict(F.col("gopher_keep"), "rejected_quality"))
        .drop("gopher_keep")
    )


def _c4(rows: DataFrame) -> DataFrame:
    """The C4 line cleaning and page gate → ``rejected_c4``; ``text``
    becomes the C4-cleaned text every later stage reads."""
    from n8n_tools_api_spark.operators.textstats import c4_line_columns

    c4 = c4_line_columns(F.col("text"))
    return rows.withColumns({
        "text": c4["clean_text"],
        "status": _verdict(c4["c4_keep"], "rejected_c4"),
    })


def curation_keep_list(docs: DataFrame, use_lsh: bool = False,
                       threshold: float = 0.5, k: int = 5,
                       checkpoint_dir: str | None = None) -> DataFrame:
    """Curation over (doc_id string, text string) documents — stages
    exact → near; statuses ``kept`` / ``exact_dup`` / ``near_dup``. See
    the module docstring for the two near-dup strategies.

    ``checkpoint_dir`` makes every intermediate materialization
    reliable (parquet on shared storage instead of executor-local
    blocks — operators/materialize.py): the exact-stage cut, the LSH
    banded frame, and every components round. Default localCheckpoint
    is right on local[k]; on a 1000-executor cluster a lost executor
    would otherwise kill the multi-hour run mid-loop (round-3 verdict
    #2).
    """
    return _ladder(docs, _dedup(use_lsh, threshold, k, checkpoint_dir),
                   ["doc_id", "status", "canonical"], checkpoint_dir)


def curation_with_quality(docs: DataFrame, use_lsh: bool = False,
                          threshold: float = 0.5, k: int = 5,
                          checkpoint_dir: str | None = None) -> DataFrame:
    """Quality-first curation — stages gopher → exact → near. The
    Gopher repetition gates (operators/textstats.py::gopher_repetition,
    Rae et al. 2021 A1.1) run on the RAW text BEFORE the expensive
    extraction/dedup stages — the order every large-scale pipeline
    uses, because a rejected doc costs one cheap aggregate instead of
    the full flow — and reject as ``rejected_quality``. A repetitive
    doc therefore cannot become some cleaner doc's canonical.
    Oracle-checked end-to-end (``curation_quality_keep_list`` chains
    the Gopher DuckDB replay into the curation chain replay).
    """
    return _ladder(docs, [("gopher", _gopher)]
                   + _dedup(use_lsh, threshold, k, checkpoint_dir),
                   ["doc_id", "status", "canonical"], checkpoint_dir)


def classifier_curation_keep_list(docs: DataFrame, positive: DataFrame,
                                  negative: DataFrame, *,
                                  use_lsh: bool = False,
                                  threshold: float = 0.5, k: int = 5,
                                  threshold_q16: int = 0,
                                  checkpoint_dir: str | None = None,
                                  ) -> DataFrame:
    """Dedup-then-classify curation — stages exact → near → classifier,
    the DCLM / FineWeb-Edu stage order: the trained quality classifier
    (operators/qualityclf.py, the NB log-odds model) scores only the
    surviving canonicals as the FINAL selection stage — DCLM-Baseline
    applies its fastText filter after heuristics+dedup, and FineWeb-Edu
    scores the already-deduplicated FineWeb. Scoring after dedup means
    the expensive model pass runs once per unique document, not once
    per copy.

    ``positive`` / ``negative`` are the labeled training frames
    (text column ``text``), typically a curated reference slice vs a
    raw-crawl sample — the classifier trains in the same plan (two
    bounded-key aggregations; see qualityclf.py).

    Output: (doc_id, status, canonical, score_q16); scored survivors
    are ``kept`` or ``rejected_classifier``, and duplicates are never
    scored. A near_dup's canonical may itself be classifier-rejected —
    the public pipelines accept this (selection happens after
    clustering; the cluster pointer records provenance, not survival).
    """
    from n8n_tools_api_spark.operators.qualityclf import (
        quality_classifier_scores)

    def classifier(rows: DataFrame) -> DataFrame:
        scored = quality_classifier_scores(
            rows.select("doc_id").join(docs.select("doc_id", "text"),
                                       "doc_id"),
            positive, negative, threshold_q16=threshold_q16)
        return scored.select(
            "doc_id",
            _verdict(F.col("decision"), "rejected_classifier")
            .alias("status"),
            F.when(F.col("decision"), F.col("doc_id")).alias("canonical"),
            "score_q16",
        )

    return _ladder(docs, _dedup(use_lsh, threshold, k, checkpoint_dir)
                   + [("classifier", classifier)],
                   ["doc_id", "status", "canonical", "score_q16"],
                   checkpoint_dir)


def c4_curation_keep_list(docs: DataFrame, use_lsh: bool = False,
                          threshold: float = 0.5, k: int = 5,
                          checkpoint_dir: str | None = None) -> DataFrame:
    """C4-first curation — stages c4 → gopher → exact → near, the full
    public-pipeline stage order (C4 / RefinedWeb: clean lines →
    quality-filter → dedup):

    1. the C4 cleaning rules (operators/textstats.py::c4_line_filter,
       Raffel et al. 2020 §2.2) drop boilerplate lines and reject
       lorem-ipsum / brace / fragment pages → ``rejected_c4``;
    2. every downstream stage consumes the C4-CLEANED text, not the raw
       page: the Gopher repetition gates (``rejected_quality``) and the
       exact + near-dup curation chain — so a page whose only
       differences were dropped boilerplate lines dedups against its
       clean twin (the reason real pipelines clean first).

    Oracle-checked end-to-end (plans/catalog.py
    ``c4_curation_keep_list`` chains the C4 replay → Gopher replay →
    curation replay in one DuckDB query).
    """
    return _ladder(docs, [("c4", _c4), ("gopher", _gopher)]
                   + _dedup(use_lsh, threshold, k, checkpoint_dir),
                   ["doc_id", "status", "canonical"], checkpoint_dir)


HOST_PATTERN = r"^[a-z][a-z0-9+.-]*://([^/?#]+)"


def canonical_host(url) -> "F.Column":
    """Canonical host of a URL column, pinned (oracle-replayed):
    lowercase the whole URL, take the authority of a scheme://
    match, strip one leading ``www.`` and a trailing ``:port``;
    scheme-less / unparseable URLs (and NULLs) canonicalize to ``''``
    and participate in capping as one pseudo-host."""
    u = F.lower(F.coalesce(url, F.lit("")))
    host = F.regexp_extract(u, HOST_PATTERN, 1)
    host = F.regexp_replace(host, r"^www\.", "")
    return F.regexp_replace(host, r":\d+$", "")


def per_host_cap(docs: DataFrame, cap: int, url_col: str = "url",
                 quality_col: str | None = None, id_col: str = "doc_id",
                 salt_buckets: int = 16,
                 host_col: str | None = None) -> DataFrame:
    """Cap the corpus at ``cap`` documents per canonical host, keeping
    the best — the host-balancing stage of the public web-curation
    canon (CCNet/RefinedWeb/FineWeb all bound per-domain volume so a
    handful of giant hosts can't dominate the training mix).

    Ranking within a host is a pinned total order: ``quality_col``
    DESCENDING (NULLs last) when given, then ``id_col`` ASCENDING as
    the tiebreak; with no quality column, plain ``id_col`` order.
    Output: the kept rows only — all input columns plus ``host`` and
    ``host_rank`` (1-based within the host's kept set).

    Scale shape — the naive formulation (one row_number window keyed
    by host) sorts EVERY row of a giant host in one task; a single
    100M-page host stalls the stage. This runs the classic two-phase
    top-k instead: a first window keyed by (host, salt) — salt =
    crc32(id) % ``salt_buckets``, deterministic — cuts each host to at
    most salt_buckets*cap rows (any global top-``cap`` row is
    necessarily in its bucket's top-``cap``, so the cut is lossless),
    then the global per-host window ranks the bounded survivors. Both
    exchanges carry slim rows; no host key ever exceeds
    salt_buckets*cap rows in the second sort.
    """
    if cap < 1:
        raise ValueError(f"cap must be >= 1, got {cap}")
    order = [F.col("_hq").desc_nulls_last(), F.col(id_col).asc()] \
        if quality_col is not None else [F.col(id_col).asc()]
    if host_col is not None:
        # caller already holds a canonical host (e.g. from
        # url_blocklist_filter) — grouping by it verbatim avoids the
        # double-canonicalization trap (a second pass would strip a
        # second 'www.' / ':port' and merge distinct hosts)
        with_host = docs.withColumn("host", F.col(host_col))
    else:
        with_host = docs.withColumn("host", canonical_host(F.col(url_col)))
    if quality_col is not None:
        with_host = with_host.withColumn("_hq", F.col(quality_col))
    else:
        with_host = with_host.withColumn("_hq", F.lit(None))
    with_host = with_host.withColumn(
        "_salt", F.crc32(F.col(id_col).cast("string")) % salt_buckets)
    local_w = Window.partitionBy("host", "_salt").orderBy(*order)
    pre = with_host.withColumn("_lr", F.row_number().over(local_w)) \
        .where(F.col("_lr") <= cap)
    global_w = Window.partitionBy("host").orderBy(*order)
    return (
        pre.withColumn("host_rank", F.row_number().over(global_w))
        .where(F.col("host_rank") <= cap)
        .drop("_lr", "_salt", "_hq")
    )


def url_blocklist_filter(docs: DataFrame, blocked_domains: DataFrame,
                         blocked_terms: list[str],
                         url_col: str = "url",
                         id_col: str = "doc_id") -> DataFrame:
    """URL-level corpus filtering — the first gate of the public
    web-curation canon (C4, Raffel et al. 2020 §2.2 drops pages whose
    URL hits a word blocklist; RefinedWeb, Penedo et al. 2023 §3.1
    filters by a curated domain blocklist plus URL term scoring;
    FineWeb keeps the same two-tier shape).

    Pinned semantics (replayed by the ``url_blocklist`` oracle):

    * ``host`` is :func:`canonical_host` of the URL (lowercase,
      authority, one leading ``www.`` stripped, trailing ``:port``
      stripped; unparseable/NULL → ``''``);
    * a document is ``blocked_domain`` when the host OR any of its
      dot-suffixes (``a.b.c`` → ``a.b.c``, ``b.c``, ``c``) appears in
      ``blocked_domains`` — subdomains of a blocked domain are blocked,
      exactly like a registrable-domain denylist;
    * otherwise ``blocked_term`` when the lowercased raw URL contains
      any entry of ``blocked_terms`` as a substring;
    * otherwise ``kept``. ``matched`` reports the lexicographically
      smallest matching domain (or term) so ties are deterministic.

    Scale shape: ``blocked_terms`` is a small curated list (hundreds)
    and is evaluated PER ROW as a literal-array ``exists`` — zero
    shuffle, rides the scan. ``blocked_domains`` can be millions of
    entries (UT1-class lists), so it is a broadcast hash join against
    the exploded suffix frame (≤ #labels ≈ 5 slim rows per doc); the
    single exchange is the doc-keyed map-side-combined rollup of those
    slim (id, url, host, suffix-match) rows — no fat column ever moves,
    and the output itself is a slim disposition frame.
    """
    u = F.lower(F.coalesce(F.col(url_col), F.lit("")))
    terms = sorted(set(blocked_terms))
    if terms:
        term_hits = F.sort_array(F.filter(
            F.array(*[F.lit(t) for t in terms]),
            lambda t: F.contains(u, t),
        ))
        matched_term = F.when(F.size(term_hits) > 0, term_hits[0])
    else:
        matched_term = F.lit(None).cast("string")
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        F.col(url_col).alias("url"),
        canonical_host(F.col(url_col)).alias("host"),
        matched_term.alias("_term"),
    )
    parts = F.split(F.col("host"), r"\.")
    suffixes = F.filter(
        F.transform(
            F.sequence(F.lit(1), F.size(parts)),
            lambda i: F.array_join(F.slice(parts, i, F.size(parts)), "."),
        ),
        lambda s: s != "",
    )
    exploded = base.select(
        "doc_id", "url", "host", "_term",
        F.explode_outer(suffixes).alias("_suffix"),
    )
    joined = exploded.join(
        F.broadcast(blocked_domains.select(
            F.col("domain").alias("_suffix")).distinct()
         .withColumn("_dhit", F.lit(1))),
        "_suffix", "left",
    )
    rolled = (
        joined.groupBy("doc_id", "url", "host", "_term")
        .agg(F.min(F.when(F.col("_dhit") == 1, F.col("_suffix")))
             .alias("_domain"))
    )
    status = (
        F.when(F.col("_domain").isNotNull(), F.lit("blocked_domain"))
        .when(F.col("_term").isNotNull(), F.lit("blocked_term"))
        .otherwise(F.lit("kept"))
    )
    return rolled.select(
        "doc_id", "url", "host",
        status.alias("status"),
        F.coalesce(F.col("_domain"), F.col("_term")).alias("matched"),
    )


def web_curation_keep_list(docs: DataFrame, blocked_domains: DataFrame,
                           blocked_terms: list[str], bench: DataFrame,
                           host_cap: int = 1000, sample_rate: float = 1.0,
                           sample_seed: int = 42, use_lsh: bool = False,
                           threshold: float = 0.5, k: int = 5,
                           n_gram: int = 13,
                           checkpoint_dir: str | None = None) -> DataFrame:
    """The COMPLETE public web-curation pipeline in canon stage order —
    what C4/RefinedWeb/FineWeb actually run end-to-end; stages url → c4
    → gopher → exact → near → host_cap → decontam → sample:

    1. URL gate (:func:`url_blocklist_filter`) — cheapest first, before
       any text is touched → ``rejected_url``;
    2. C4 line cleaning + page gate on survivors → ``rejected_c4``;
       every later stage consumes the C4-CLEANED text;
    3. Gopher repetition gate → ``rejected_quality``;
    4. exact + near dedup (the oracle-checked curation chain) →
       ``exact_dup`` / ``near_dup`` with their canonicals;
    5. per-host cap (:func:`per_host_cap`, rank = doc_id ascending) on
       the kept canonicals → ``rejected_host_cap``;
    6. benchmark decontamination
       (:func:`~n8n_tools_api_spark.operators.decontaminate.ngram_decontaminate`
       on the cleaned text, paper constant n=13) → ``contaminated``;
    7. deterministic mixture downsampling (md5-prefix keys from
       operators/sampling.py) → ``sampled_out`` vs final ``kept``
       (canonical = the doc itself).

    Oracle-checked end-to-end: plans/catalog.py ``web_curation_keep_list``
    chains the URL replay → C4 replay → Gopher replay → curation replay
    → host-cap window → decontamination grams → md5 sampling in ONE
    DuckDB query.

    Scale shape: stage order IS the scale argument — each gate runs on
    the cheapest possible frame (URL gate on slim (id, url) rows before
    any text stage; quality gates per-row on text; dedup on hashes and
    shingles; the cap on slim (id, host) rows; decontam and sampling on
    the survivors only). Fat text crosses a join only keyed by doc_id
    (the URL verdict, the exact stage's payload join-back, the cap
    verdict), always with a slim other side — broadcast when it fits,
    AQE otherwise.
    """
    from n8n_tools_api_spark.operators.decontaminate import (
        ngram_decontaminate,
    )
    from n8n_tools_api_spark.operators.sampling import (
        sample_key, sample_threshold_hex,
    )

    def url(rows):
        gate = url_blocklist_filter(rows.select("doc_id", "url"),
                                    blocked_domains, blocked_terms)
        return rows.select("doc_id", "text").join(gate.select(
            "doc_id", "host",
            _verdict(F.col("status") == "kept", "rejected_url")
            .alias("status")), "doc_id")

    def cap(rows):
        # the host from url_blocklist_filter is already canonical — pass
        # it through the host_col seam so per_host_cap can't strip a
        # second 'www.' / ':port' and merge hosts the oracle keeps
        # distinct
        capped = per_host_cap(rows.select("doc_id", "host"), cap=host_cap,
                              host_col="host")
        return (
            rows.drop("host")
            .join(capped.select("doc_id", "host_rank"), "doc_id", "left")
            .withColumn("status", _verdict(F.col("host_rank").isNotNull(),
                                           "rejected_host_cap"))
            .drop("host_rank")
        )

    def decontam(rows):
        return ngram_decontaminate(rows, bench, n=n_gram).select(
            "doc_id", _verdict(~F.col("contaminated"), "contaminated")
            .alias("status"))

    def sample(rows):
        keep = sample_key(F.col("doc_id"), sample_seed) < \
            F.lit(sample_threshold_hex(sample_rate))
        return rows.select(
            "doc_id", _verdict(keep, "sampled_out").alias("status"),
            F.when(keep, F.col("doc_id")).alias("canonical"))

    return _ladder(
        docs,
        [("url", url), ("c4", _c4), ("gopher", _gopher)]
        + _dedup(use_lsh, threshold, k, checkpoint_dir)
        + [("host_cap", cap), ("decontam", decontam),
           ("sample", sample)],
        ["doc_id", "status", "canonical"], checkpoint_dir)


TRACKING_PARAM_NAMES = ["fbclid", "gclid", "mc_cid", "mc_eid", "msclkid",
                        "ref"]


def canonical_url(url, id_when_unparseable: bool = True) -> "F.Column":
    """Canonical form of a URL column — the normalization behind
    URL-level dedup, the FIRST dedup stage of the public web-curation
    canon (RefinedWeb, Penedo et al. 2023 §3.2 deduplicates fetched
    URLs before any text processing; CCNet and FineWeb keep the same
    stage so recrawls and tracking-decorated links don't multiply a
    page).  Every rule is engine-portable (Java regex and RE2 agree on
    these patterns; ASCII assumed) and replayed byte-exactly by the
    ``url_canonical_dedup`` oracle:

    * NULL → ``''``;
    * a URL *parses* iff it matches ``scheme://authority`` with a
      non-empty authority (``^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+``);
      non-parsing strings canonicalize to THEMSELVES (identity), so
      junk collapses only when byte-equal;
    * scheme: lowercased;
    * host: authority lowercased, userinfo (``user:pw@``) stripped,
      one leading ``www.`` stripped, the scheme's DEFAULT port
      stripped (``:80`` iff http, ``:443`` iff https — any other
      port is identity-bearing and kept);
    * path: case PRESERVED, trailing ``/``-runs stripped (so
      ``/a/b/`` ≡ ``/a/b`` and a bare ``/`` ≡ empty);
    * query: split on ``&``; empty params dropped; tracking params
      dropped (name starts with ``utm_`` or name ∈
      ``TRACKING_PARAM_NAMES``; the name is the text before the first
      ``=``); survivors SORTED ascending (full ``k=v`` string) and
      re-joined — param order never distinguishes pages;
    * fragment (``#…``): dropped.

    Scale shape: pure per-row string expressions — zero shuffle, rides
    the scan at 100 TB.
    """
    u = F.coalesce(url, F.lit(""))
    scheme = F.lower(F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    auth = F.regexp_extract(u, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)", 1)
    host = F.regexp_replace(F.lower(auth), "^[^@]*@", "")
    host = F.regexp_replace(host, r"^www\.", "")
    host = (
        F.when(scheme == "http", F.regexp_replace(host, ":80$", ""))
        .when(scheme == "https", F.regexp_replace(host, ":443$", ""))
        .otherwise(host)
    )
    path = F.regexp_replace(
        F.regexp_extract(u, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)", 1),
        "/+$", "")
    qraw = F.regexp_extract(u, r"\?([^#]*)", 1)
    name = lambda p: F.regexp_replace(p, "=.*$", "")  # noqa: E731
    tracked = F.array(*[F.lit(t) for t in TRACKING_PARAM_NAMES])
    params = F.array_sort(F.filter(
        F.split(qraw, "&"),
        lambda p: (p != "")
        & (F.substring(name(p), 1, 4) != "utm_")
        & ~F.array_contains(tracked, name(p)),
    ))
    q = F.array_join(params, "&")
    canon = F.concat(
        scheme, F.lit("://"), host, path,
        F.when(q == "", F.lit("")).otherwise(F.concat(F.lit("?"), q)),
    )
    return F.when(auth != "", canon).otherwise(u)


def url_dedup(docs: DataFrame, url_col: str = "url",
              id_col: str = "doc_id") -> DataFrame:
    """URL-level exact dedup over :func:`canonical_url` keys — emits a
    full disposition frame (one row per input doc)::

        (doc_id, url, canonical_url,
         status 'kept' | 'url_dup', first_doc, group_size)

    ``first_doc`` is the ascending-``id_col`` minimum of the canonical
    group (the kept representative — a crawler's "first fetch wins"),
    ``group_size`` the group's total count.  All-NULL / unparseable
    URLs keep their raw string as the key, so only byte-equal junk
    collapses; NULLs canonicalize to ``''`` and form one pseudo-group
    (documented, like :func:`canonical_host`'s ``''`` pseudo-host).

    Scale shape: canonicalization rides the scan; the ONLY exchange is
    the window over ``canonical_url`` carrying slim (id, url-length)
    rows — at 10^12 docs this is the cheapest possible dedup, which is
    exactly why the canon runs it before any text stage.  Canonical
    keys are high-cardinality and near-uniform (hosts × paths), so no
    skew handling is needed beyond AQE defaults; the ``''``
    pseudo-group is the one engineered hot key, and a corpus with many
    NULL URLs should pre-filter them (they carry no fetch identity).
    """
    # unordered-frame window: min/count need no in-partition sort
    w = Window.partitionBy("canonical_url")
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        F.col(url_col).alias("url"),
        canonical_url(F.col(url_col)).alias("canonical_url"),
    )
    return base.select(
        "doc_id", "url", "canonical_url",
        F.min("doc_id").over(w).alias("first_doc"),
        F.count(F.lit(1)).over(w).alias("group_size"),
    ).withColumn(
        "status",
        F.when(F.col("doc_id") == F.col("first_doc"), F.lit("kept"))
        .otherwise(F.lit("url_dup")),
    ).select("doc_id", "url", "canonical_url", "status", "first_doc",
             "group_size")


def web_dedup_keep_list(docs: DataFrame, min_doc_freq: int = 2,
                        checkpoint_dir: str | None = None) -> DataFrame:
    """The dedup LADDER of the public web-curation canon composed in
    its published stage order — cheapest gate first (RefinedWeb §3.2
    runs exactly this ladder: URL dedup at fetch time, then line-wise
    corrections, then document-level exact/fuzzy dedup). Three stages
    over (doc_id, url, text) documents:

    1. url_dedup — :func:`url_dedup`, canonical-URL dedup (no text
       touched; a recrawl costs one slim window row) → ``url_dup`` of
       the URL group's first doc;
    2. strip_lines —
       :func:`~n8n_tools_api_spark.operators.dedup.strip_repeated_lines`,
       within-doc repeated-line removal (zero shuffle); rejects nothing;
    3. boiler_lines_exact_text —
       :func:`~n8n_tools_api_spark.operators.dedup.line_dedup`
       (cross-doc boilerplate-line removal over the stripped text), then
       exact full-text dedup on the post-cleaning text (md5 window,
       min-id canonical) → ``exact_dup`` — two pages that differed
       only by nav chrome and repeated headers collapse HERE, which is
       the reason the line stages run first.

    Output: (doc_id, status, canonical, lines_dropped_within,
    lines_dropped_boiler); the line counters are NULL for url_dup rows
    (their text was never processed — that IS the saving). Docs whose
    text cleans to ``''`` (boilerplate-only pages) form one exact-dup
    group of the empty text, min-id kept — the documented
    pseudo-group, same convention as url_dedup's NULL URLs.

    Scale shape: stage 1 exchanges only (id, canonical-url) rows, then
    joins its verdict onto the text by doc_id; the line stripping rides
    the scan; line_dedup exchanges slim (doc_id, q, h) line-key rows
    (AQE-split hot boilerplate keys); the exact window exchanges
    (doc_id, md5) pairs. Full text never rides a key-keyed shuffle in
    any stage.
    """
    from n8n_tools_api_spark.operators.dedup import (
        line_dedup, strip_repeated_lines)

    def url(rows):
        u = url_dedup(rows.select("doc_id", "url"))
        return rows.select("doc_id", "text").join(u.select(
            "doc_id", "status", F.col("first_doc").alias("canonical")),
            "doc_id")

    def strip_lines(rows):
        # its own stage so that line_dedup (which reads its input
        # twice) and the counter join read the stripped text from the
        # cut instead of re-stripping it per reader
        return strip_repeated_lines(rows).select(
            "doc_id", F.col("clean_text").alias("text"),
            F.col("n_removed").alias("lines_dropped_within"),
            F.lit("kept").alias("status"))

    def boiler_lines_exact_text(rows):
        boiler = line_dedup(rows, min_doc_freq=min_doc_freq)
        cleaned = rows.select("doc_id", "lines_dropped_within").join(
            boiler.select("doc_id", "clean_text",
                          F.col("n_removed").alias("lines_dropped_boiler")),
            "doc_id")
        w = Window.partitionBy("h")
        return cleaned.withColumn(
            "h", F.md5(F.col("clean_text").cast("binary"))
        ).withColumn("canonical", F.min("doc_id").over(w)).withColumn(
            "status", _verdict(F.col("doc_id") == F.col("canonical"),
                               "exact_dup"))

    return _ladder(docs, [("url_dedup", url), ("strip_lines", strip_lines),
                          ("boiler_lines_exact_text",
                           boiler_lines_exact_text)],
                   ["doc_id", "status", "canonical",
                    "lines_dropped_within", "lines_dropped_boiler"],
                   checkpoint_dir)
