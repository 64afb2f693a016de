#!/usr/bin/env python
"""Headline benchmark: runs the engine's representative queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE compact JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...,
     "n_queries": N, "detail": "BENCH_DETAIL.json", ...}

The stdout line is size-guarded to LINE_LIMIT chars (the driver records
only ~2000 chars of output; r13's full 77-query line overflowed it and
the round's perf record came back unparseable).  `queries` on the line
holds the slowest-k subset that fits; the FULL per-query map, canary
notes, and error details go to the BENCH_DETAIL.json sidecar next to
this file, which the round-end commit preserves.

Each query is forced with a NOOP-sink write (not collect) so timing
measures the distributed plan with EVERY output column materialized,
without driver materialization of wide results.  (Round 14 rebased this
from count(): Catalyst prunes columns a count doesn't need, which
silently dropped the extraction pandas-UDFs out of pdf/html_extract's
timings — agg-ending queries are unaffected within noise, since their
outputs are a handful of rows.)  A warmup query amortizes JVM/codegen
startup out of the numbers.

Each timed query runs TWICE and the faster run is recorded: this box
shares cores with whatever ran before the bench (leftover JVMs, kernel
reclaim), and a single sample has been observed 4x over its settled
value; min-of-two keeps the recorded number an algorithm measurement,
not an environment one.  Caches are cleared before every run so the min
is never a served-from-RAM artifact — only OS page cache stays warm,
deliberately (cold-file I/O is measured by the warmup touch pass).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Headline set: one per operator family that matters at scale.
HEADLINE = [
    "scan_time_range",    # pruned scan
    "ohlcv_daily",        # fixed agg endpoint
    "resample_1h",        # time-bucket resample
    "pricing_summary",    # TPC-H Q1 shape
    "join_enrich",        # star join (broadcast dims)
    "topk_customers",     # agg + top-k
    "window_running",     # window functions
    "udf_fold_sum",       # pandas-over-Arrow /q path
    "grouped_pandas",     # applyInPandas grouped map
    "sessionize_batch",   # window-function sessionization
    "stream_ingest",      # checkpointed stream re-open (no-op) + table scan
                          # NB: measures the idempotent read-back path, not
                          # ingest throughput — bench_write.py measures that
    "dedup_exact",        # hash dedup
    "dedup_minhash",      # MinHash LSH near-dup
    "dedup_clusters",     # iterative connected components over pairs
    "text_quality",       # text feature pack
    "knn_bruteforce",     # similarity search
    "knn_ivf",            # IVF probe over the persisted index
    "knn_lsh",            # LSH probe over the persisted index
    "knn_lsh_multiprobe",  # hamming-1 probe, 1-table index (12x smaller)
    "asof_join",          # point-in-time join (union+window, no join node)
    "range_join",         # interval containment (bucketized equi-join)
    "knn_pq",             # compressed-domain ADC scan + exact rerank
    "text_repetition",    # Gopher-style repetition signals (row-local fold)
    "bm25_search",        # 2-scan BM25 top-k, no inverted-index shuffle
    "contamination",      # 8-gram overlap vs broadcast benchmark set
    "dedup_incremental",  # batch-vs-signature-store pairs (store cached
                          # across runs by testdata fingerprint)
    "kmeans_train",       # 3 distributed Lloyd passes (k=4, d=64)
    "text_entropy",       # char-entropy quality signal (row-local HOFs)
    "contamination_hash",  # 64-bit-hash prefilter + exact-verify decon
    "embedding_outliers",  # per-cluster distance z-score filter
    "quality_model",      # hashing-trick linear scorer (codegen'd fold)
    "chunk_docs",         # overlapping context-window explode
    "lm_score",           # corpus-trained bigram LM train+score
    "funnel6",            # 6-step funnel: 5 asof transitions, 1 final agg
    "multimodal_png",     # REAL stdlib PNG decode over mapInPandas
    "multimodal_jpeg",    # real baseline-JPEG decode (numpy codec)
    "dedup_spans",        # 0-mod-p char-fingerprint span overlap
    "semantic_dedup",     # SemDeDup cluster-local embedding dedup
    "dedup_paragraphs",   # sub-document dedup + rewrite (window election)
    "knn_ivfpq",          # composed IVF+PQ: partition-pruned ADC probe
    "multimodal_video",   # REAL stdlib animated-GIF (LZW) per-frame decode
    "bpe_apply",          # BPE tokenize: codegen replace chain, no Python
    "skew_stress",        # salted two-phase agg under a planted hot key
    "manifest_stress",    # concurrent CAS appends + crash injection
                          # (stress cached by fingerprint; re-runs time
                          # the manifest-snapshot scan read-back)
    "contamination_fuzzy",   # banded MinHash-LSH corpus x bench decon
    "dedup_clusters_capped",  # capped candidate gen -> cluster labels
    "domain_percentile_cut",  # per-domain exact-percentile quality cut
    "global_shuffle",     # seeded deterministic export shuffle (2-level)
    "dsir_weights",       # DSIR hashed-bigram importance weights
    "embedding_quantize",  # int8 symmetric embedding quantization
    "knn_int8",           # compressed-domain int8 scan + exact rerank
    "strip_lines",        # in-doc line dedup (zero-shuffle rewrite)
    "strip_boilerplate",  # cross-doc chrome-line removal (count+anti)
    "embedding_covariance",  # one-pass d x d covariance (PCA stat)
    "embedding_pca",      # literal-matrix projection (zero shuffle)
    "curation_v3",        # strip chrome -> DSIR -> quantile -> shuffle
    "unigram_tok",        # unigram-LM tokenizer: EM train + Viterbi apply
    "export_webdataset",  # tar-shard training export + streaming read-back
    "hll_vocab",          # portable HLL distinct sketch (md5 registers)
    "countmin_tokens",    # count-min heavy-hitter table + probe lookups
    "hybrid_search",      # RRF fusion of BM25 + token-jaccard rankings
    "kmv_quantiles",      # KMV bottom-k sample -> nearest-rank quantiles
    "hll_store",          # persisted HLL register store (build+2 appends,
                          # store cached across runs by fingerprint)
    "multimodal_containers",  # real mp4/webm container metadata + codec ID
    "countmin_store",     # persisted count-min store (build+append+
                          # compact+vacuum, cached across runs)
    "kmv_merge",          # per-epoch bottom-k samples -> corpus sample
    "kmv_distinct",       # (k-1)/u_k distinct estimate, bit-replayable
    "kmv_setops",         # KMV jaccard/union/intersection estimates
    "kmv_store",          # persisted sample store (build+append+compact,
                          # cached across runs by fingerprint)
    "text_index",         # persisted inverted index: bucket-pruned
                          # posting-list BM25 (index cached across runs)
    "bloom_membership",   # packed-word Bloom filter build + probe verdicts
    "bloom_store",        # persisted Bloom store (build+2 appends, bit_or
                          # merge; cached across runs by fingerprint)
    "contamination_bloom",  # bloom-prefiltered exact decontamination
    "ngram_novelty",      # per-doc first-occurrence 5-gram novelty
    "bloom_novelty",      # epoch novelty vs the history Bloom filter
    "zorder_scan",        # 2-D predicate on the Z-order clustered copy
    "html_extract",       # HTML->text crawl-ingest extraction roundtrip
    "pdf_extract",        # PDF->text roundtrip, classic + xref-stream
                          # writers alternating by doc parity
    # round-15 registrations
    "md_extract",         # Markdown->text extraction roundtrip
    "docx_extract",       # DOCX->text extraction roundtrip
    "url_dedup",          # URL canonicalization + frontier election
    "tick_report",        # composed twap+decay+paths health report
    "mixture_pipeline",   # stratified -> temperature -> token budget
    "webp_decode",        # real VP8L decode roundtrip (RFC 9649)
    "warc_extract",       # WARC crawl ingest: gunzip+walk+HTTP+HTML
    "volume_bars",        # event-driven bar sampling (cumsum window)
    "image_dedup",        # perceptual-hash image near-dup pairs
    "stream_warc",        # streaming crawl ingest (checkpointed sink)
    # round-16 registrations (window-capacity composites)
    "warehouse_report",   # q3+q5+q1+running+fold+salted+skew union
    "events_timeline",    # parse+resample+sessions+ohlcv union
    "docs_report",        # strip+kmv+pii+quality-train union
    "video_frames",       # real ISO-BMFF sample-index frame sampling
    "warc_records",       # full WARC record surfacing incl. revisits
    # round-17 registrations
    "table_delete",       # COW delete+update read-back (table cached by
                          # fingerprint; re-runs time the post-rewrite
                          # manifest scan)
    "tokenize_report",    # unigram train+apply / planted BPE train /
                          # BPE apply chain, long-form union
    # round-18 registrations
    "table_merge",        # COW MERGE upsert + matched-delete read-back
                          # (table cached by fingerprint; re-runs time
                          # the post-merge manifest scan)
    "events_health",      # retention+rate+promo+volbars+twap+gapfill
    "crawl_report",       # warc explode+extract / url canon election /
                          # segment reassembly union
]


# Environment canary: this box intermittently degrades host-side —
# uniform 1.2-3.2x inflation across ALL queries plus batch-write
# collapse, with no guest-side cause (BASELINE_LOCAL.md §round-8
# closing) — which polluted BENCH_r08's cross-round totals.  Every run
# now measures a FIXED micro-workload (the 1M-row batch write, its
# clean band pinned from repeated quiet-window recordings) BEFORE and
# AFTER the query loop and embeds both in the JSON, so each artifact
# carries its own environment certificate: a reader comparing totals
# across rounds first checks `canary.degraded`.
# Re-pinned round 12 (BASELINE_LOCAL.md §round-12 re-pin): the 1M-row
# number re-based — five quiet-window samples on HEAD (621-764k) and
# three on the r11 boundary tree (641-742k) are indistinguishable,
# while SAME-window 2M-row samples reach 781k-1006k, so the shift is
# fixed-overhead amortization on a healthy box, not degradation.  The
# old 769-967k band (pinned round 8) no longer describes a clean run.
CANARY_BAND = (620_000, 800_000)  # batch rows/s @ 1M, BASELINE_LOCAL.md
CANARY_TOLERANCE = 1.3            # >1.3x below the band floor = degraded


def _bench_write_subprocess(batch_only: bool) -> dict:
    """Run bench_write.py in its own fresh JVM and parse its JSON line.
    Subprocess isolation is deliberate: the write bench is a fixed-row
    workload, and a late JVM loss there must never take the query table
    with it (observed under host pressure at the 10x replica point)."""
    import subprocess

    env = {**os.environ, "SPARK_GRAFT_WRITE_ROWS":
           os.environ.get("SPARK_GRAFT_WRITE_ROWS", "1000000")}
    cmd = [sys.executable, os.path.join(os.path.dirname(
        os.path.abspath(__file__)), "bench_write.py")]
    if batch_only:
        cmd.append("--batch-only")
    proc = subprocess.run(cmd, capture_output=True, text=True,
                          timeout=900, env=env)
    if proc.returncode != 0:
        raise RuntimeError(f"bench_write rc={proc.returncode}: "
                           f"{proc.stderr[-300:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def _canary_degraded(value: float | None) -> bool | None:
    """Degraded = slower than the clean band floor by >tolerance.
    (Faster than the band is not degradation — min-of-two on a quiet
    box can only approach the algorithm's true cost from above.)
    None in = None out: a missing sample is a bench ERROR, not a
    below-band measurement — callers must not conflate the two."""
    if value is None:
        return None
    return value < CANARY_BAND[0] / CANARY_TOLERANCE


def _canary_below_band(value: float | None) -> bool | None:
    """Below the clean band FLOOR itself — the honest edge the round-12
    verdict demanded: the 1.3x tolerance exists to forgive jitter on a
    degraded-or-not verdict, not to let a sample that misses the
    freshly-pinned floor read as a clean window.  None = no sample."""
    if value is None:
        return None
    return value < CANARY_BAND[0]


def _canary_sample(label: str, band_applies: bool = True) -> int | None:
    """One batch-only write sample in a fresh subprocess JVM; retried
    once if the first look is degraded (a transient blip should not
    condemn the window).  No retry when the band doesn't apply — a
    below-floor reading at a non-1M row count means nothing."""
    attempts: list[int] = []
    for attempt in range(2):
        print(f"[bench] canary({label}) attempt {attempt + 1}",
              file=sys.stderr, flush=True)
        try:
            attempts.append(
                _bench_write_subprocess(batch_only=True)["batch_write"])
        except Exception as exc:
            print(f"canary attempt failed: {exc!r}", file=sys.stderr)
        if not band_applies:
            break
        if attempts and _canary_degraded(attempts[-1]) is False:
            break
    return max(attempts) if attempts else None


def _run_queries(sf_dir: str) -> tuple[dict, dict]:
    """One full headline pass in its own SparkSession (started and
    stopped here, so canary samples before/after it run against a
    JVM-free box — the 'before' and 'after' conditions match)."""
    import __spark_entry__ as entry_mod
    from zdb_spark.session import get_spark

    spark = get_spark("zdb-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry_mod.queries()

    # Warmup: spin the JVM and codegen, and touch every input table so
    # the first timed query per table isn't paying OS page-cache misses
    # for the whole file (observed 8x swings on cold cache).
    try:
        qs["pricing_summary"](spark, sf_dir).count()
        for t in ("events", "orders", "customer", "nation", "region",
                  "documents", "embeddings"):
            spark.read.parquet(f"{sf_dir}/{t}.parquet").count()
    except Exception as exc:  # warmup failure must not kill the run
        print(f"warmup failed: {exc!r}", file=sys.stderr)

    # Per-query isolation: one erroring query must not abort the run —
    # round 4 lost its entire perf signal to a single entry regression.
    # Errors land in a parallel "errors" map; the headline total sums
    # only queries that ran.
    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    for name in HEADLINE:
        print(f"[bench] {name}", file=sys.stderr, flush=True)
        fn = qs[name]
        best = None
        try:
            for _ in range(2):
                # drop caches BEFORE each run (operators cache
                # intermediates internally) so neither sample is served
                # from retained blocks
                spark.catalog.clearCache()
                t0 = time.time()
                # noop sink: forces every output column (a count() lets
                # Catalyst prune projection-only work like the
                # extraction UDFs), writes nothing
                (fn(spark, sf_dir).write.format("noop")
                 .mode("overwrite").save())
                dt = time.time() - t0
                best = dt if best is None else min(best, dt)
            timings[name] = round(best, 3)
            # progress timing to stderr: a crash late in the run (or in
            # the write bench) must not lose the whole query table
            print(f"[bench] {name} = {timings[name]}s",
                  file=sys.stderr, flush=True)
        except Exception as exc:
            errors[name] = f"{type(exc).__name__}: {exc}"[:500]
            print(f"query {name} failed: {exc!r}", file=sys.stderr)
    spark.stop()
    return timings, errors


def _one_attempt(sf_dir: str) -> dict:
    """before-canary → query pass → write bench → after-canary verdict.
    Both canary samples run with no other JVM alive (the query session
    is stopped before the write bench), so 'after' is measured under
    the same conditions the clean band was pinned in — the r9 artifact's
    asymmetric in-session 'after' could read low for JVM reasons, not
    host reasons."""
    canary: dict = {"metric": "batch_write_rows_per_sec",
                    "rows": int(os.environ.get("SPARK_GRAFT_WRITE_ROWS",
                                               "1000000")),
                    "clean_band": list(CANARY_BAND),
                    "tolerance": CANARY_TOLERANCE}
    band_applies = canary["rows"] == 1_000_000
    canary["before"] = _canary_sample("before", band_applies)
    if band_applies and _canary_degraded(canary["before"]):
        print(f"[bench] WARNING: degraded host window — canary "
              f"{canary['before']} rows/s vs clean band {CANARY_BAND}",
              file=sys.stderr, flush=True)

    timings, errors = _run_queries(sf_dir)

    # Ingest throughput (mirrors the reference's only bench,
    # benches/write.rs) — recorded so BENCH_r{N}.json catches write-path
    # regressions, not just read-side ones.  Runs in a SUBPROCESS with
    # its own fresh JVM after the query session has stopped: a late JVM
    # loss there can never take the query table with it, and its batch
    # route doubles as the symmetric "after" canary sample.
    print("[bench] write_throughput", file=sys.stderr, flush=True)
    try:
        wt = _bench_write_subprocess(batch_only=False)
        write_tp = {k: wt[k] for k in
                    ("batch_write", "stream_sink", "rows", "unit")}
    except Exception as exc:
        write_tp = {"err": f"{type(exc).__name__}: {exc}"[:500]}
        print(f"write bench failed: {exc!r}", file=sys.stderr)

    canary["after"] = write_tp.get("batch_write")
    # stream-sink drift flag (r19 VERDICT task 5): INFORMATIONAL only.
    # The sink has no pinned clean band (observed 727k-1,135k across
    # clean-ish windows; the r18 272k reading was triaged to host noise
    # by a same-window interleaved A/B — r17 tree 727-743k vs HEAD
    # 748-812k, HEAD >= r17).  Flag readings below the lowest same-tree
    # A/B figure so future drift is visible in the artifact without
    # gating the degraded verdict on an unbanded metric.
    ss = write_tp.get("stream_sink")
    if isinstance(ss, (int, float)):
        canary["stream_sink"] = ss
        canary["stream_sink_ref_floor"] = 700_000
        canary["stream_sink_below_ref"] = ss < 700_000
    # In/out disagreement at the band edge gets a THIRD sample before
    # the verdict (round-12 verdict task 3): one edge miss may be
    # jitter; two of three is a window property.
    bb_b = _canary_below_band(canary["before"])
    bb_a = _canary_below_band(canary["after"])
    if band_applies and None not in (bb_b, bb_a) and bb_b != bb_a:
        canary["tiebreak"] = _canary_sample("tiebreak", band_applies)
    _apply_canary_verdict(canary, band_applies)
    return {"canary": canary, "timings": timings, "errors": errors,
            "write_throughput": write_tp}


def _apply_canary_verdict(canary: dict, band_applies: bool) -> None:
    """Fill canary['degraded'] / ['note'] from the before/after samples.
    Pure (no I/O) so tests can pin the edge semantics: non-1M rows →
    verdict None (band floor meaningless at other row counts); both
    samples None → verdict None (bench ERROR, not a band measurement);
    one sample missing → verdict from the survivor, with the gap named
    in the note even when the survivor also reads degraded."""
    if not band_applies:
        # The clean band is pinned for the 1M-row workload; at any other
        # row count the rows/s floor is meaningless (fixed per-batch
        # overhead changes throughput), so record no verdict at all.
        canary["degraded"] = None
        canary["below_band"] = None
        canary["note"] = (f"clean band is pinned for 1,000,000 rows; "
                          f"no degraded verdict at rows={canary['rows']}")
        return
    deg_b = _canary_degraded(canary["before"])
    deg_a = _canary_degraded(canary["after"])
    if canary["before"] is None and canary["after"] is None:
        canary["degraded"] = None
        canary["below_band"] = None
        canary["note"] = ("both canary samples errored (bench "
                          "failure, not a band measurement)")
        return
    canary["degraded"] = bool(deg_b) or bool(deg_a)
    # below_band: any surviving sample under the band FLOOR flags the
    # window, except that a recorded tie-break sample settles a
    # before/after disagreement by majority (2 of 3).  This can never
    # read cleaner than `degraded` (floor/1.3 < floor).
    samples = [canary["before"], canary["after"]]
    if canary.get("tiebreak") is not None:
        samples.append(canary["tiebreak"])
    flags = [_canary_below_band(s) for s in samples if s is not None]
    if len(flags) >= 3:
        canary["below_band"] = flags.count(True) >= 2
    else:
        canary["below_band"] = any(flags)
    # notes COMPOSE: a missing sample (either side — a bench
    # error, not a band measurement) must stay visible even
    # when the surviving sample also reads degraded
    notes = []
    for side, val in (("before", canary["before"]),
                      ("after", canary["after"])):
        if val is None:
            other = "after" if side == "before" else "before"
            notes.append(f"'{side}' sample missing (write bench "
                         f"error, not a below-band sample); "
                         f"verdict is from '{other}' alone")
    if canary["degraded"]:
        notes.append(
            "host window degraded (canary below the pinned clean "
            "band floor): totals are NOT cross-round comparable — "
            "see BASELINE_LOCAL.md for the A/B protocol")
    elif canary["below_band"]:
        notes.append(
            "canary below the clean band floor (within the 1.3x "
            "tolerance): below-band window — read totals "
            "conservatively and settle any regression via the "
            "BASELINE_LOCAL.md same-window A/B protocol")
    if notes:
        canary["note"] = "; ".join(notes)


# The driver records only the LAST ~2000 characters of bench stdout;
# BENCH_r13.json came back `parsed: null` because 77 queries' timings
# pushed the single JSON line past that window and the captured tail
# started mid-dict.  The full artifact now goes to a SIDECAR file (which
# the driver's round-end commit preserves) and the stdout line is a
# compact, size-guarded summary: total + canary verdict + the slowest
# queries that fit.  `_compact_line` is pure so tests pin the guard.
SIDECAR = "BENCH_DETAIL.json"
LINE_LIMIT = 1700  # chars; observed capture window ~2000, keep margin


def _compact_line(out: dict, limit: int = LINE_LIMIT) -> dict:
    """Shrink the full bench artifact to a stdout line <= `limit` chars.

    Always kept: metric/value/unit/sf, query count, sidecar pointer,
    canary verdict (samples + booleans, long notes dropped — the full
    note lives in the sidecar), write throughput numbers, error count.
    The per-query map keeps the slowest-k subset, k chosen as the
    largest of (20, 10, 5, 3, 1, 0) whose serialization fits."""
    timings: dict = out.get("queries", {})
    canary: dict = out.get("canary", {})
    base: dict = {
        "metric": out["metric"],
        "value": out["value"],
        "unit": out["unit"],
        "sf": out["sf"],
        "n_queries": len(timings),
        "detail": SIDECAR,
    }
    wt = out.get("write_throughput", {})
    base["write_throughput"] = {
        k: wt[k] for k in ("batch_write", "stream_sink") if k in wt
    } or {"err": str(wt.get("err", ""))[:80]}
    base["canary"] = {
        k: canary.get(k)
        for k in ("before", "after", "tiebreak", "degraded", "below_band")
        if k in canary and (k != "tiebreak" or canary.get(k) is not None)
    }
    errors: dict = out.get("errors", {})
    if errors:
        base["n_errors"] = len(errors)
        base["error_queries"] = sorted(errors)[:5]
    slowest = sorted(timings.items(), key=lambda kv: (-kv[1], kv[0]))
    for k in (20, 10, 5, 3, 1, 0):
        cand = dict(base)
        cand["queries"] = dict(slowest[:k])
        if len(json.dumps(cand, separators=(",", ":"))) <= limit:
            return cand
    # Even the empty-queries form overflowed (cannot happen with sane
    # inputs; belt-and-braces for a pathological error map).
    base.pop("error_queries", None)
    base["queries"] = {}
    return base


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    # Canary-GATED recording: a degraded attempt is retried once after a
    # cool-down (the observed degradation windows pass within minutes —
    # BASELINE_LOCAL.md §round-8 closing), and every attempt's canary is
    # kept in the artifact so a reader sees why this window was (or had
    # to be) accepted.
    cooldown = int(os.environ.get("SPARK_GRAFT_CANARY_COOLDOWN", "120"))
    history: list[dict] = []
    attempt = _one_attempt(sf_dir)
    if attempt["canary"].get("degraded"):
        history.append(attempt["canary"])
        print(f"[bench] degraded window — cooling down {cooldown}s and "
              f"retrying the full run once", file=sys.stderr, flush=True)
        time.sleep(cooldown)
        attempt = _one_attempt(sf_dir)

    timings = attempt["timings"]
    total = round(sum(timings.values()), 3)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_val: float | str = float(sf)
    except ValueError:
        sf_val = sf

    canary = attempt["canary"]
    if history:
        canary["prior_attempts"] = history

    out = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf_val,
        # forcing basis (r14 verdict task 6): rounds <= 13 recorded
        # count()-forced timings, which let Catalyst prune
        # projection-only work; r14+ forces a noop sink.  Cross-round
        # per-query comparisons are valid only within one basis.
        "basis": "noop",
        "write_throughput": attempt["write_throughput"],
        "canary": canary,
    }
    if attempt["errors"]:
        out["errors"] = attempt["errors"]

    # Full artifact to the sidecar (the driver's round-end commit picks
    # it up), compact size-guarded summary to stdout — see _compact_line.
    sidecar_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), SIDECAR)
    try:
        with open(sidecar_path, "w") as fh:
            json.dump(out, fh, indent=1, sort_keys=True)
            fh.write("\n")
    except OSError as exc:
        print(f"sidecar write failed: {exc!r}", file=sys.stderr)
    _maybe_write_pin(out)
    line = json.dumps(_compact_line(out), separators=(",", ":"))
    assert len(line) <= LINE_LIMIT, (
        f"bench stdout line {len(line)} chars exceeds the driver "
        f"capture guard {LINE_LIMIT}")
    print(line)
    return 0


PIN = "BENCH_PIN.json"


def _maybe_write_pin(out: dict) -> None:
    """Persist the full detail of a CANARY-CLEAN run to BENCH_PIN.json
    (r16 verdict task 3): BENCH_DETAIL.json is overwritten by every
    run — including the driver's flagged windows — so the round's
    clean per-gate reference used to survive only as prose in
    BASELINE_LOCAL.md.  The pin is written ONLY when both canary
    verdicts are explicitly clean (False, not None), stamped with the
    tree SHA (+ '-dirty'), so a later same-window A/B has a
    machine-readable clean reference; flagged runs never touch it."""
    canary = out.get("canary", {})
    if canary.get("degraded") is not False or \
            canary.get("below_band") is not False:
        return
    import subprocess

    here = os.path.dirname(os.path.abspath(__file__))
    sha = None
    dirty_files: list[str] = []
    try:
        sha = subprocess.run(
            ["git", "rev-parse", "--short", "HEAD"], cwd=here,
            capture_output=True, text=True, timeout=30
        ).stdout.strip() or None
        status = subprocess.run(
            ["git", "status", "--porcelain"], cwd=here,
            capture_output=True, text=True, timeout=30
        ).stdout
        if sha and status.strip():
            sha += "-dirty"
            # r17 verdict task 6: a bare '-dirty' made "which tree
            # was this" ambiguous for future A/Bs — record WHICH
            # files differ from the SHA so a reader can judge whether
            # the dirt is driver artifacts (BENCH_r*.json etc.) or
            # real source drift.  Porcelain lines are "XY<space>path"
            # — split on whitespace, do NOT strip the buffer first (a
            # leading ' M' status would eat the path's first char).
            dirty_files = [ln.split(None, 1)[1]
                           for ln in status.splitlines()
                           if len(ln.split(None, 1)) == 2][:50]
    except Exception:
        pass                       # pin still useful without a SHA
    try:
        with open(os.path.join(here, PIN), "w") as fh:
            json.dump({**out, "tree_sha": sha,
                       **({"dirty_files": dirty_files}
                          if dirty_files else {})}, fh, indent=1,
                      sort_keys=True)
            fh.write("\n")
        print(f"[bench] canary-clean: pinned detail to {PIN} "
              f"(tree {sha})", file=sys.stderr, flush=True)
    except OSError as exc:
        print(f"pin write failed: {exc!r}", file=sys.stderr)


if __name__ == "__main__":
    sys.exit(main())
