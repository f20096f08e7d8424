"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line with per-query wall times."""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from simpy__kafka__flink__kafka_spark.plans import registry  # noqa: E402
from simpy__kafka__flink__kafka_spark.session import get_spark  # noqa: E402

HEADLINE = [
    "link_traces",
    "link_edges",
    "pricing_summary",
    "top_revenue_orders",
    "region_revenue",
    "sessionize_events",
    "exact_dedup",
    "token_count",
    "minhash_lsh_pairs",
    "near_dup_verified",
    "simhash_near_dup",
    "language_id",
    "cosine_topk",
    "embedding_near_dup_blocked",
    "embedding_near_dup_verified",
    "multimodal_features",
    "asof_last_click",
    "chain_stats",
    "hop_latencies",
    "tfidf_top_terms",
    "corpus_prep_full",
    "latency_percentiles",
    "contamination_check",
    "temperature_sample",
    "repetition_ratio",
    "vocab_coverage",
    "passage_dedup",
    "passage_rewrite",
    "chunk_documents",
    # round-8 rotation mirrors the gate: the FUSED profile+rewrite twin
    # (both ExactSubstr outputs off ONE gram-window exchange, 0.48x the
    # standalone pair it replaces here; the standalones stay declared +
    # oracled in the registry tail)
    "exact_substring_profile_rewrite",
    # live codec execution inside the distributed plan (vendored PPM
    # decode through Arrow mapInPandas; oracle-checked at the gate)
    "image_decode_stats",
    # promoted round 7: the web front door — zero-shuffle jusText-lite
    # extraction over synthesized pages, and the full web capstone
    # (extract -> C4 -> Gopher -> dedup -> domain caps -> stats; one
    # scan, two exchanges, extraction pass materialized once)
    "html_extract_main",
    "web_prep_full",
    # promoted round 8: the crawl stages AROUND content dedup — URL-level
    # keep-first dedup on the canonical key (zero-shuffle canonicalization
    # + one exchange), cross-snapshot incremental dedup against a
    # persisted fingerprint+MinHash profile, and the end-to-end-oracled
    # image near-dup pairs (live PPM decode -> aHash -> banded hamming)
    "url_dedup",
    "dedup_against_prior",
    "image_near_dup",
    # round-8 wave 5: CCNet-style bigram-LM fluency scoring (integer-
    # exact) and per-user hourly gap-fill/interpolation over events
    "bigram_lm_score",
    "gap_fill_hourly",
    # the crawl-admission capstone chains the round-8 front-door stages
    # (canonical-URL dedup -> robots gate -> prior-content check)
    "crawl_admission",
    # round-9 gate rows: the max-plus critical path over the trace DAG,
    # the robots->links->rank composition, and the RFC 9309 robots.txt
    # file gate
    "critical_path",
    "compliant_pagerank",
    "robots_txt_gate",
    # round-10 gate rows: the IR family (BM25, quote-complete anchor
    # aggregation, and the search_rank capstone chaining them with
    # phrase positions), the snapshot bookkeeping pair, SoftDeDup
    # weights, the temperature mixture plan, the resharded politeness
    # schedule, and the live MP3 header walk
    "bm25_scores",
    "anchor_texts",
    "search_rank",
    "snapshot_diff",
    "scd2_history",
    "soft_dedup_weights",
    "mixture_plan",
    "crawl_schedule",
    "mp3_stats",
    # round-10 wave 2/3: named-agent robots gate, Crawl-delay pacing,
    # sitemap parsing + frontier seeding, and the WebP header walk
    "robots_txt_gate_named",
    "crawl_schedule_paced",
    "sitemap_parse",
    "sitemap_frontier",
    "webp_dims",
    # round-11: the AVIF ISO-BMFF header walk (eighth image format),
    # rolling z-score burst detection over hourly event rates, and the
    # per-host reputation profile (frontier prioritization signal)
    "avif_dims",
    "hourly_anomalies",
    "host_reputation",
    # round-11: executed VP8L pixel roundtrip (lossless WebP decode for
    # transform-free streams — the narrowed WebP seam), and the
    # reputation-weighted frontier ordering capstone.  NOTE: the
    # roundtrip fixture memoizes on its 880-pattern doc_id period, so
    # this row's wall time measures the codec over the DISTINCT
    # patterns, not corpus volume — its growth ratio (if it ever enters
    # the measured-top-5 ladder) reads as plumbing, not codec scaling.
    "webp_roundtrip_stats",
    "frontier_rank",
    # round-12: the anomaly detector's READ side (z flags -> schedule
    # backoff) and the executed predictor-transform / color-indexing
    # VP8L decodes (both memoized on small doc_id periods — their wall
    # time measures distinct patterns, like webp_roundtrip_stats)
    "crawl_backoff_schedule",
    "webp_predictor_stats",
    "webp_palette_stats",
    "webp_entropy_stats",
    "vp8_roundtrip_stats",
    "dsir_weights",
    # round-12 wave 9: SALSA hub/authority ranking, CCNet fluency
    # buckets (ranged quantile rank), SemDeDup (IVF-cell blocked),
    # executed audio rfft features, the gradient dHash decode path,
    # the interval-bucketed GeoIP-style range lookup, and Unicode NFC
    # normalization (Arrow-batched unicodedata)
    "salsa_scores",
    "ccnet_buckets",
    "semantic_dedup",
    "audio_spectral_stats",
    "image_dhash_oracle",
    "ip_range_lookup",
    "unicode_normalize",
    # round-12 wave 11: warc.gz ingestion (bounded multi-member gunzip
    # + the shared WARC parse) and the ZIP central-directory walk
    "warc_gz_parse",
    "zip_stats",
    # round-12 wave 12: the WebDataset shard manifest (ustar walk)
    "webdataset_manifest",
    # round-12 wave 13: the per-source data-card capstone and the EXIF
    # orientation/provenance walk over real JPEG streams
    "corpus_datasheet",
    "jpeg_exif_stats",
    # round-12 wave 14: the PDF header/xref triage walk
    "pdf_stats",
    # round-12 wave 16: the ID3v2 provenance walk (the audio EXIF)
    "id3_stats",
    # round-13: the near-distance VP8L decode (the last VP8L seam,
    # memoized on a 16-pattern doc_id period like its siblings), the
    # palette-PNG decode (24-pattern period), CDX/SURT index parsing
    # (pure codegen — zero Python), the OGG page walk, and PDF page
    # text extraction
    "webp_lz77_stats",
    "png_palette_stats",
    "cdx_parse",
    "ogg_audio_stats",
    "pdf_text_extract",
    # round-13 late waves: the Gopher A1.2 repetition battery (one
    # gram explode over five orders) and the WebDataset shard WRITER
    # roundtrip (pack -> manifest walk)
    "gopher_repetition",
    "webdataset_pack",
    # round-13 final wave: MP4 movie triage (shared ISO-BMFF walk)
    "mp4_stats",
    # round-14: warc.gz -> CDXJ indexing with verified member spans,
    # and the WET conversion-record companion (extract -> render ->
    # reparse through the one WARC parser rendering)
    "cdx_index",
    "wet_conversion",
    "wat_metadata",
    # round-14: boundary-respecting sample packing (greedy first-fit
    # within ranked shards; the third packing semantic)
    "pack_samples",
]


# --- scale ladder ------------------------------------------------------------
# The N most expensive headline queries BY THIS RUN'S MEASURED TIMES
# also run once against a 10x synthesized blow-up of sf0.1 (disjoint
# per-replica id/user worlds, per-replica text/props markers so dedup
# and linking workloads keep their shape), and the JSON carries both
# points plus the growth ratio — the PLANS.md growth-checkpoint prose
# as a driver-visible artifact.  Deriving the list from the measured
# times (round-11 fix; previously a hand-pinned round-9 list) keeps the
# ladder pointed at the actual most expensive plans — a new slowest
# query can never be invisible to the growth check.
# Skip with SPARK_GRAFT_BENCH_SCALE=0; factor override via the same var.
SCALE_TOP_N = 5


def scale_queries(base_times: dict[str, float]) -> list[str]:
    return sorted(base_times, key=base_times.get, reverse=True)[
        :SCALE_TOP_N]


def _ensure_scaled_dir(spark, sf_dir: str, factor: int) -> str:
    """Materialize the scaled twin of ``sf_dir`` under the repo (kept
    across rounds; regenerated only when absent).  documents/events get
    real ``factor``-replica blow-ups; the small dims symlink through."""
    base = Path(__file__).resolve().parent / ".bench_scale" / (
        f"x{factor}_" + Path(sf_dir).name)
    marker = base / "_COMPLETE"
    tables = ("region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "embeddings", "documents", "events")
    # Path.exists() follows symlinks, so a dir built by a pre-abspath-fix
    # run with dangling relative symlinks fails this probe and rebuilds
    # instead of short-circuiting into path-not-found at the x10 point
    if marker.exists() and all(
            (base / f"{t}.parquet").exists() for t in tables):
        return str(base)
    import shutil

    from pyspark.sql import functions as F

    if base.exists():
        shutil.rmtree(base)
    base.mkdir(parents=True)
    for t in tables[:8]:
        # abspath: a relative SPARK_GRAFT_SF_DIR would otherwise resolve
        # relative to .bench_scale/x*/ and dangle
        os.symlink(os.path.abspath(f"{sf_dir}/{t}.parquet"),
                   base / f"{t}.parquet")
    rep = F.explode(F.sequence(F.lit(0), F.lit(factor - 1))).alias("_rep")
    off = F.col("_rep").cast("long") * F.lit(1 << 40)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    (docs.select("*", rep)
     .withColumn("doc_id", F.col("doc_id") + off)
     .withColumn("text", F.concat("text", F.lit(" r"),
                                  F.col("_rep").cast("string")))
     .drop("_rep")
     .write.mode("overwrite").parquet(str(base / "documents.parquet")))

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    # NOTE on the growth direction for the span view: schemas.py folds
    # every event into ONE simulated day (ts_ms % 1d) over 10 IPs, so
    # replicas can never be made time-disjoint — a bigger event table
    # IS a denser folded day, exactly what the driver's larger SFs look
    # like.  The link queries therefore density-scale here (candidate
    # pairs grow superlinearly; the banded join is what keeps the
    # measured growth sub-quadratic), while the id-keyed and
    # documents-side queries scale linearly on their disjoint replica
    # worlds.  A timestamp shift per replica would be a no-op through
    # the day fold (any whole-day shift vanishes; sub-day shifts just
    # rotate a uniformly-covered day), so none is applied.
    (ev.select("*", rep)
     .withColumn("event_id", F.col("event_id") + off)
     .withColumn("user_id", F.col("user_id") + off)
     # keep msg references world-disjoint too, so parse/link queries
     # never cross replicas
     .withColumn("props", F.regexp_replace(
         "props", "msg_", F.concat(F.lit("msg"),
                                   F.col("_rep").cast("string"),
                                   F.lit("_"))))
     .drop("_rep")
     .write.mode("overwrite").parquet(str(base / "events.parquet")))
    marker.touch()
    return str(base)


def _run_scale(spark, reg, sf_dir: str, base_times: dict[str, float],
               factor: int) -> dict:
    scaled_dir = _ensure_scaled_dir(spark, sf_dir, factor)
    names = [n for n in scale_queries(base_times) if n in reg]
    # warm the OS page cache on the scaled files first: the x1 numbers
    # run against sf0.1 files the whole headline already touched, so an
    # x10 point paying the FIRST disk read of a freshly-written blow-up
    # measures disk-first-touch, not plan growth (observed 5.5-20 s
    # swings on identical data before this)
    for t in ("documents", "events"):
        spark.read.parquet(f"{scaled_dir}/{t}.parquet").write.format(
            "noop").mode("overwrite").save()
    # best-of-2, interleaved (the headline lesson): co-tenant noise on a
    # single rep corrupts the growth ratio
    best: dict[str, float] = {n: float("inf") for n in names}
    for _ in range(2):
        for name in names:
            t0 = time.perf_counter()
            reg[name].build(spark, scaled_dir).write.format("noop").mode(
                "overwrite").save()
            best[name] = min(best[name], time.perf_counter() - t0)
            spark.catalog.clearCache()
    out: dict[str, dict] = {}
    for name in names:
        tx = round(best[name], 3)
        out[name] = {
            "x1": base_times[name],
            f"x{factor}": tx,
            "growth": round(tx / base_times[name], 2)
            if base_times[name] > 0 else None,
        }
    return {"factor": factor, "queries": out}


def _task_time_ms(spark) -> int:
    """Cumulative executor task time (ms) over every completed stage, read
    from the JVM AppStatusStore (the UI's own data source; populated even
    with spark.ui.enabled=false).  The bench samples it OUTSIDE the timed
    region and reports per-query deltas, so the driver's low-core
    comparison can see CPU-scaling directly: at sf0.1 most wall times sit
    on the ~0.25 s scheduling floor where 8 cores already saturate the
    work, which made the round-15 wall-clock ratios read ≈1 and the
    scaling contract illegible (VERDICT r15 task 2).  task_sec/wall >> 1
    is the legible form of "the cores are being used"."""
    try:
        sc = spark.sparkContext
        store = sc._jsc.sc().statusStore()
        gw = sc._gateway
        empty = gw.jvm.java.util.ArrayList()
        darr = gw.new_array(gw.jvm.double, 0)
        seq = store.stageList(empty, False, False, darr, empty)
        return sum(seq.apply(i).executorRunTime() for i in range(seq.size()))
    except Exception:        # status store internals moved: non-fatal
        return 0


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("bench")
    reg = registry()
    names = [n for n in HEADLINE if n in reg]

    # one warmup pass to exclude JVM/codegen startup from per-query numbers
    reg[names[0]].build(spark, sf_dir).write.format("noop").mode(
        "overwrite").save()

    # best-of-N (default 3; SPARK_GRAFT_BENCH_REPS), with the passes
    # INTERLEAVED (A,B,...,A,B,... rather than A,A,B,B,...): a co-tenant
    # load spike then dents whole passes instead of both timings of the
    # queries it overlaps, so min() recovers the clean number for every
    # query.  Round-8 lesson: best-of-2's two passes can BOTH land inside
    # one long co-tenant window (the recorded rep was +24-43% on untouched
    # queries); a third pass ~1 min later makes that require a 3x-longer
    # spike.  Caches clear between EVERY execution,
    # so both passes run COLD — each number is the full cost a user pays
    # running that query once, including populating its own plan caches.
    # (Through round 4 the grouped loop cleared only between queries, so a
    # query's second pass reused its first pass's caches and min() reported
    # the warm cost — 15-40% lower on cache-heavy queries.  Set
    # SPARK_GRAFT_BENCH_MODE=warm to reproduce that scheme for
    # cross-round comparison.)
    warm = os.environ.get("SPARK_GRAFT_BENCH_MODE") == "warm"
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))
    times: dict[str, float] = {name: float("inf") for name in names}
    # per-query executor task time (sum of task durations) for the best
    # wall rep — sampled OUTSIDE the timed window (additions-only; the
    # timed region and the queries dict are unchanged, VERDICT r15 task 2)
    task_ms: dict[str, int] = {}
    if warm:
        for name in names:
            for _ in range(reps):
                t0 = time.perf_counter()
                reg[name].build(spark, sf_dir).write.format("noop").mode(
                    "overwrite").save()
                times[name] = min(times[name], time.perf_counter() - t0)
            spark.catalog.clearCache()
    else:
        for _ in range(reps):
            for name in names:
                tt0 = _task_time_ms(spark)
                t0 = time.perf_counter()
                # noop sink materializes every output row without sink cost;
                # count() would let Catalyst eliminate unique-key left joins
                # (e.g. the flagship's join-back) and under-measure the plan
                reg[name].build(spark, sf_dir).write.format("noop").mode(
                    "overwrite").save()
                wall = time.perf_counter() - t0
                if wall < times[name]:
                    times[name] = wall
                    task_ms[name] = _task_time_ms(spark) - tt0
                # several plan builders cache shared subtrees (shingles,
                # signature pyramids, banded edges); drop them so a long
                # bench session doesn't accumulate pinned storage
                spark.catalog.clearCache()
    times = {name: round(t, 3) for name, t in times.items()}

    total = round(sum(times.values()), 3)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    payload = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": times,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        # scaling legibility (VERDICT r15 task 2): the master string proves
        # $SPARK_GRAFT_CPUS reached the session, and per-query executor
        # task time shows the cores being used even where the wall time
        # sits on the scheduling floor
        "master": spark.sparkContext.master,
        "task_sec": {n: round(ms / 1000.0, 3)
                     for n, ms in sorted(task_ms.items())},
    }
    scale_env = os.environ.get("SPARK_GRAFT_BENCH_SCALE", "10")
    factor = int(scale_env) if scale_env.isdigit() else 0
    if factor > 1:
        payload["scale"] = _run_scale(spark, reg, sf_dir, times, factor)
    print(json.dumps(payload))
    # Persist the FULL per-query payload to a repo file as well
    # (VERDICT r12 task 3): the driver's tail capture beheads the full
    # line above (r12 recovered only 27/61 shared times for the
    # round-over-round diff), so the judge diffs the detail file
    # instead of doing regex archaeology.  VERDICT r14 task 6: the
    # detail lives under experiments/ with a UNIQUE timestamped name —
    # a mid-round builder validation run must never overwrite the
    # driver's end-of-round record, and the BENCH_DETAIL_r{N}.json /
    # BENCH_r{N}.json namespace belongs to the driver alone.  VERDICT
    # r15 task 8: the filename stamps git SHA + timestamp ONLY — the
    # former max(recorded round)+1 guess named the driver's own
    # end-of-round detail one round ahead, so anyone diffing by
    # filename got the wrong rounds.
    try:
        import subprocess

        here = os.path.dirname(os.path.abspath(__file__))
        try:
            sha = subprocess.run(
                ["git", "rev-parse", "--short", "HEAD"], cwd=here,
                capture_output=True, text=True, timeout=10,
            ).stdout.strip() or "nogit"
        except Exception:
            sha = "nogit"
        payload["bench_unix"] = int(time.time())
        payload["git_sha"] = sha
        exp_dir = os.path.join(here, "experiments")
        os.makedirs(exp_dir, exist_ok=True)
        detail_path = os.path.join(
            exp_dir,
            f"bench_detail_{sha}_{payload['bench_unix']}.json")
        with open(detail_path, "w") as fh:
            json.dump(payload, fh, indent=1, sort_keys=True)
        print(f"full per-query detail -> {detail_path}",
              file=sys.stderr)
    except OSError as exc:            # read-only checkout: non-fatal
        print(f"bench detail not persisted: {exc}", file=sys.stderr)
    # The LAST printed line must stay compact: the driver's tail capture
    # is ~2.2 KB and BENCH_r11's single full-payload line outgrew it
    # (`parsed: null` — VERDICT r11 task 2).  Full per-query detail is
    # the line above; this one carries the headline total, the top-10
    # times, and the scale growths.
    top10 = sorted(times.items(), key=lambda kv: -kv[1])[:10]
    compact = {
        "metric": payload["metric"],
        "value": total,
        "unit": "sec",
        "sf": payload["sf"],
        "n_queries": len(times),
        "queries": dict(top10),
        # scaling legibility (additions-only; VERDICT r15 task 2): master
        # proves the core count reached the session; task_sec / wall >> 1
        # on the heavy queries shows the cores being used even where the
        # sf0.1 wall sits on the ~0.25 s scheduling floor
        "master": payload["master"],
        "task_sec": {name: payload["task_sec"].get(name)
                     for name, _ in top10},
    }
    if "scale" in payload:
        compact["scale_growth"] = {
            name: d["growth"]
            for name, d in payload["scale"]["queries"].items()
        }
        # absolute x10 seconds: at x10 the work is far above the
        # scheduling floor, so THESE times are where an 8-vs-32-core
        # comparison actually shows core scaling
        compact["scale_x10_sec"] = {
            name: d.get("x10")
            for name, d in payload["scale"]["queries"].items()
        }
    print(json.dumps(compact))


if __name__ == "__main__":
    main()
