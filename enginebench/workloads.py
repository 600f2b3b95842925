"""The benchmark's workloads.

Each workload builds its inputs from the seed, computes the expected
output with an independent oracle, and then runs timed iterations.  An
iteration is one closed-loop job: the next starts after the previous one
is committed, checked and cleaned up.  Only the job itself is timed.
"""

from __future__ import annotations

import math
import os
import shutil
import time
from dataclasses import dataclass, field
from typing import Optional

import numpy as np
import pyarrow.parquet as pq

from .tracing import Tracer, median

SEEN_STATES = ("VISITED", "KNOWN", "REFUSED")
WAVE_ROW_KINDS = ("crawl_data", "domain_state", "edge", "fetch_log", "frontier", "visit")
CORPUS_CALLS = (  # the corpus workload's traced public calls
    "operators.dedup.with_minhash",
    "operators.dedup.minhash_lsh_pairs",
    "operators.dedup.simhash_pairs",
    "operators.graph.connected_components",
    "operators.sampling.dedup_keep_best",
    "plans.corpus_pipeline.compose_training_set",
)
SOURCE_REPEATS = 3  # input generations timed for sources.generate_s (their median)

# Input sizes; TINY_SIZES are the self-test's.  A crawl generates
# ``domains`` and crawls, in name order, as many as reach ``urls`` visits.
SIZES = {
    "crawl_full": {"domains": 128, "mean_pages": 16, "urls": 2000},
    "crawl_waves": {"domains": 256, "mean_pages": 6, "urls": 1500, "waves": 3},
    "corpus_dedup": {"docs": 600},
}
TINY_SIZES = {
    "crawl_full": {"domains": 6, "mean_pages": 6},
    "crawl_waves": {"domains": 6, "mean_pages": 6, "waves": 2},
    "corpus_dedup": {"docs": 120},
}


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


def percentile(values, q: float) -> float:
    return float(np.percentile(np.asarray(values, dtype=float), q)) if len(values) else 0.0


@dataclass
class IterResult:
    """One timed job.  ``items`` is the unit of ``urls_per_s`` and
    ``bytes_per_url``: visited URLs for crawls, input documents for the
    corpus.  ``context`` carries what ``Workload.layers`` needs of the job."""

    job_s: float
    items: int
    out_bytes: int
    problems: list[str]
    tracer: Tracer
    context: dict = field(default_factory=dict)
    layer: dict = field(default_factory=dict)

    @property
    def ok(self) -> bool:
        return not self.problems

    @property
    def problem(self) -> str:
        return "; ".join(self.problems)


class Workload:
    name = ""

    def __init__(self, seed: int, work: str, cores: int, size: dict):
        self.spark = None  # set once the session is up; generate() needs none
        self.seed = seed
        self.work = work
        self.cores = cores
        self.size = size
        self.expected: dict = {}
        self.offline: dict = {}  # offline_layers(), once the traced run has called it
        self.cached: list = []  # inputs kept cached across iterations

    def keep_cached(self, df):
        df = df.cache()
        df.count()
        self.cached.append(df)
        return df

    def drop_inputs(self) -> None:
        for df in self.cached:
            df.unpersist()
        self.cached = []

    def generate(self) -> None:
        """Generate the inputs from the seed (the ``sources`` layer, no
        Spark); safe to call again."""
        raise NotImplementedError

    def load(self) -> None:
        """Load the generated inputs into Spark and cache them."""
        raise NotImplementedError

    def build_expected(self) -> None:
        """Compute the oracle's answer for the current inputs."""
        raise NotImplementedError

    def iterate(self, out_dir: str, tracer: Tracer) -> IterResult:
        raise NotImplementedError

    def layers(self, res: IterResult, out_dir: str) -> None:
        """After a job (traced run only): the calls and counts that split
        it into layers, into ``res.layer``; failed checks go to
        ``res.problems``.  ``out_dir`` is still there."""

    def offline_layers(self) -> dict:
        """Layer metrics timed without Spark, run after warm-up on an idle
        session (traced run only).  Regenerating the inputs gives the same
        inputs."""
        gens = []
        for _ in range(SOURCE_REPEATS):
            t0 = time.perf_counter()
            self.generate()
            gens.append(time.perf_counter() - t0)
        return {"sources.generate_s": median(gens), **self.input_sizes()}

    def input_sizes(self) -> dict:
        raise NotImplementedError

    def release_iteration(self) -> None:
        from marginaliasearch_spark.operators.dedup import unpersist_transients

        self.spark.catalog.clearCache()
        unpersist_transients()
        for df in self.cached:  # the inputs stay cached, as in setup
            df.cache()
            df.count()


# ---------------------------------------------------------------- crawls


class CrawlWorkload(Workload):
    """Crawl a synthetic web end to end with the wave engine."""

    def generate(self) -> None:
        from marginaliasearch_spark.sources.synthetic_web import generate_web, web_to_frames

        self.web, _ = generate_web(
            seed=self.seed,
            n_domains=self.size["domains"],
            mean_pages=self.size["mean_pages"],
        )
        self.pages_pdf, self.domains_pdf = web_to_frames(self.web)

    def load(self) -> None:
        from marginaliasearch_spark.sources.synthetic_web import spark_schemas

        ps, ds = spark_schemas()
        pages = self.pages_pdf[self.pages_pdf["domain"].isin(self.crawl_domains)]
        domains = self.domains_pdf[self.domains_pdf["domain"].isin(self.crawl_domains)]
        self.pages = self.keep_cached(self.spark.createDataFrame(pages, schema=ps))
        self.domains = self.keep_cached(self.spark.createDataFrame(domains, schema=ds))
        self.specs = self.domains.select("domain", "crawl_depth", "seed_urls")

    def input_sizes(self) -> dict:
        pdf = self.pages_pdf
        return {
            "sources.pages": int(pdf["domain"].isin(self.crawl_domains).sum()),
            "sources.domains": len(self.crawl_domains),
        }

    def build_expected(self) -> None:
        """Replay domains, in name order, through the single-threaded
        oracle until their visits reach the size's ``urls``; those domains
        are the crawl, so every seed crawls about the same number of URLs.
        The oracle's visited/seen totals are what the engine must
        reproduce."""
        from marginaliasearch_spark.oracle import OracleCrawler

        oracle = OracleCrawler(self.web, seed=self.seed)
        target = self.size.get("urls")
        seen, longest = 0, 0
        self.oracle_visits: list[str] = []
        self.oracle_crawl_data: dict[str, list] = {}
        self.crawl_domains: list[str] = []
        for d in sorted(self.web.domains):
            if target is not None and len(self.oracle_visits) >= target:
                break
            r = oracle.crawl_domain(d)
            self.crawl_domains.append(d)
            self.oracle_crawl_data[d] = r.crawl_data
            self.oracle_visits += r.visited_order
            seen += len(r.seen_hashes)
            longest = max(longest, len(r.visited_order))
        self.expected = {"visited": len(self.oracle_visits), "seen": seen, "longest": longest}

    def offline_layers(self) -> dict:
        """Besides ``sources``: the ``oracle`` layer, the per-domain kernel
        replayed on one core over the crawl's domains, and the oracle's
        answer for the recrawl the traced iteration runs."""
        from marginaliasearch_spark.oracle import OracleCrawler

        out = super().offline_layers()
        oracle = OracleCrawler(self.web, seed=self.seed)
        walls, fetches = [], 0
        for d in self.crawl_domains:
            t0 = time.perf_counter()
            r = oracle.crawl_domain(d)
            walls.append(time.perf_counter() - t0)
            fetches += len(r.fetch_log)
        out.update(
            {
                "oracle.kernel_s": sum(walls),
                "oracle.fetches": fetches,
                "oracle.domain_ms_p50": percentile(walls, 50) * 1e3,
                "oracle.domain_ms_max": max(walls) * 1e3,
            }
        )
        visited = seen = 0
        for d in self.crawl_domains:
            r = oracle.crawl_domain(d, prev_crawl=self.oracle_crawl_data[d] or None)
            visited += len(r.visited_order)
            seen += len(r.seen_hashes)
        self.expected["recrawl"] = (visited, seen)
        return out

    def wave_budget(self) -> Optional[int]:
        return None

    def _engine(self, out_dir: str):
        from marginaliasearch_spark.plans.crawl import SparkCrawlEngine

        return SparkCrawlEngine(self.spark, out_dir, seed=self.seed, n_buckets=self.cores)

    def iterate(self, out_dir: str, tracer: Tracer) -> IterResult:
        crawl_dir = os.path.join(out_dir, "crawl")
        engine = self._engine(crawl_dir)
        t0 = time.perf_counter()
        with tracer.span("plans.crawl.init_run"):
            engine.init_run(self.domains, self.specs)
        with tracer.span("plans.crawl.run_waves"):
            waves = engine.run_waves(self.pages, wave_budget=self.wave_budget())
        with tracer.span("plans.crawl.read_back"):
            visited, seen = crawl_counts(engine)
        job_s = time.perf_counter() - t0

        problems = []
        if (visited, seen) != (self.expected["visited"], self.expected["seen"]):
            problems.append(
                f"visited/seen {visited}/{seen} != oracle "
                f"{self.expected['visited']}/{self.expected['seen']}"
            )
        return IterResult(
            job_s=job_s,
            items=visited,
            out_bytes=dir_bytes(out_dir),
            problems=problems,
            tracer=tracer,
            context={"engine": engine, "crawl_dir": crawl_dir, "waves": waves},
        )

    def layers(self, res: IterResult, out_dir: str) -> None:
        ctx = res.context
        res.layer.update(self._crawl_layer(ctx["crawl_dir"], ctx["waves"], res.tracer))
        res.layer.update(self._discovery_layer(ctx["engine"], out_dir, res.tracer, res.problems))
        res.layer.update(self._recrawl_layer(ctx["engine"], out_dir, res.tracer, res.problems))

    def _crawl_layer(self, crawl_dir, waves, tracer: Tracer) -> dict:
        rw = tracer.named("plans.crawl.run_waves")[-1]
        stages = rw.stages
        cog = [s for s in stages if s.cogroup]
        udf_s = sum(s.run_s for s in cog)
        widest = max(cog, key=lambda s: s.run_s, default=None)
        commits = snapshot_commit_times(crawl_dir)
        wave_walls = np.diff(commits) if len(commits) > 1 else np.zeros(1)
        kernel_s = self.offline["oracle.kernel_s"]
        waves = max(waves, 1)
        out = {
            "plans.crawl.init_run_s": tracer.total("plans.crawl.init_run"),
            "plans.crawl.run_waves_s": rw.seconds,
            "plans.crawl.read_back_s": tracer.total("plans.crawl.read_back"),
            "plans.crawl.waves": waves,
            "plans.crawl.wave_s_p50": float(np.median(wave_walls)),
            "plans.crawl.wave_s_max": float(np.max(wave_walls)),
            "plans.crawl.jobs_per_wave": rw.jobs / waves,
            "plans.crawl.stages_per_wave": len(stages) / waves,
            "plans.crawl.tasks_per_wave": sum(s.tasks for s in stages) / waves,
            "plans.crawl.busy_frac": sum(s.run_s for s in stages) / (rw.seconds * self.cores),
            "plans.crawl.udf_task_s": udf_s,
            "plans.crawl.udf_nonkernel_frac": 1.0 - kernel_s / udf_s if udf_s else 0.0,
            "plans.crawl.udf_task_max_over_p50": (
                widest.task_run_max_s / widest.task_run_p50_s
                if widest and widest.task_run_p50_s
                else 0.0
            ),
            "plans.crawl.shuffle_write_bytes": sum(s.shuffle_write for s in stages),
            "plans.crawl.shuffle_read_bytes": sum(s.shuffle_read for s in stages),
            "plans.crawl.gc_s": sum(s.gc_s for s in stages),
            "plans.crawl.bytes.wave_out": dir_bytes(os.path.join(crawl_dir, "wave_out")),
            "plans.crawl.bytes.frontier": dir_bytes(os.path.join(crawl_dir, "frontier")),
            "plans.crawl.bytes.domain_state": dir_bytes(os.path.join(crawl_dir, "domain_state")),
            "plans.checkpoints.snapshots": len(commits),
            "plans.checkpoints.files_per_wave": data_files(crawl_dir) / waves,
        }
        rows = wave_out_rows(os.path.join(crawl_dir, "wave_out"))
        for kind in WAVE_ROW_KINDS:
            out[f"plans.crawl.rows.{kind}"] = rows.get(kind, 0)
        return out

    # -- the next cycle's discoveries (traced iterations only)

    def _dedup(self, root: str):
        from marginaliasearch_spark.plans.frontier_dedup import FrontierDedup

        return FrontierDedup(self.spark, root, n_buckets=self.cores, m_bits_per_bucket=1 << 20)

    def _seen_state(self) -> str:
        """The URL-seen service as a previous cycle left it: every URL the
        oracle visits is already seen, so only never-visited cross-domain
        targets can be admitted.  Built once, copied per iteration."""
        from pyspark.sql import functions as F

        from marginaliasearch_spark.functions.udfs import canonicalize

        root = os.path.join(self.work, "seen_state")
        if not os.path.isdir(root):
            visited = self.spark.createDataFrame(
                [(u,) for u in self.oracle_visits], "url string"
            ).select(canonicalize(F.col("url"))["url_hash"].alias("url_hash"), "url")
            dedup = self._dedup(root)
            dedup.ingest(visited)
            self.seen_hashes = self.keep_cached(dedup.seen().select("url_hash"))
        return root

    def _discovery_layer(self, engine, out_dir: str, tracer: Tracer, problems: list) -> dict:
        """``next_cycle_atags`` over this crawl's edges against the restored
        URL-seen state; no already-seen URL may be admitted."""
        from pyspark.sql import functions as F

        from marginaliasearch_spark.functions.udfs import canonicalize
        from marginaliasearch_spark.plans.discovery import (
            discovered_cross_domain,
            next_cycle_atags,
        )

        seen_root = os.path.join(out_dir, "seen")
        shutil.copytree(self._seen_state(), seen_root)
        dedup = self._dedup(seen_root)
        inner = dedup.ingest

        def traced_ingest(cand):
            with tracer.span("plans.frontier_dedup.ingest"):
                return inner(cand)

        dedup.ingest = traced_ingest
        edges = engine.read_table("edges")
        with tracer.span("plans.discovery.next_cycle_atags"):
            atags = next_cycle_atags(edges, dedup)
            admitted = atags.count()
        candidates = discovered_cross_domain(edges).count()
        readmitted = (
            atags.select(canonicalize(F.col("url"))["url_hash"].alias("url_hash"))
            .join(self.seen_hashes, "url_hash")
            .count()
        )
        if readmitted:
            problems.append(f"{readmitted} already-seen URLs admitted")
        return {
            "plans.discovery.next_cycle_atags_s": tracer.total("plans.discovery.next_cycle_atags"),
            "plans.frontier_dedup.ingest_s": tracer.total("plans.frontier_dedup.ingest"),
            "plans.discovery.candidates": candidates,
            "plans.discovery.accepted": admitted,
            "plans.discovery.accept_ratio": admitted / candidates if candidates else 0.0,
            "plans.frontier_dedup.seen_bytes": dir_bytes(seen_root),
        }

    def _recrawl_layer(self, engine, out_dir: str, tracer: Tracer, problems: list) -> dict:
        """The next cycle's recrawl: a second crawl of the same domains with
        this crawl's ``crawl_data`` as ``prev_crawl_df``, which adds the
        previous-crawl side to the wave cogroup and takes the kernel's
        304/header/LSH retention arms.  Visited and seen counts must equal
        the oracle's recrawl."""
        from pyspark.sql import functions as F

        prev = engine.read_table("crawl_data").select(
            "domain",
            (F.col("wave") * 100_000 + F.col("idx")).alias("pos"),
            "url",
            "http_status",
            "image_id",
            "etag",
            "last_modified",
            "lsh64",
        ).cache()
        prev.count()
        recrawl = self._engine(os.path.join(out_dir, "recrawl"))
        with tracer.span("plans.crawl.recrawl"):
            recrawl.init_run(self.domains, self.specs)
            recrawl.run_waves(self.pages, wave_budget=None, prev_crawl_df=prev)
            got = crawl_counts(recrawl)
        prev.unpersist()
        if got != self.expected["recrawl"]:
            problems.append(f"recrawl visited/seen {got} != oracle {self.expected['recrawl']}")
        meta = recrawl.crawl_meta().agg(
            F.sum("recrawl_recrawled").alias("recrawled"),
            F.sum("recrawl_retained").alias("retained"),
        ).collect()[0]
        recrawled, retained = int(meta["recrawled"] or 0), int(meta["retained"] or 0)
        return {
            "plans.crawl.recrawl_s": tracer.total("plans.crawl.recrawl"),
            "plans.crawl.recrawl_retained_ratio": retained / recrawled if recrawled else 0.0,
        }


class CrawlFull(CrawlWorkload):
    """One wave over the whole web."""

    name = "crawl_full"


class CrawlWaves(CrawlWorkload):
    """The same engine under a per-wave fetch budget chosen so that the
    largest domain needs ``waves`` waves: every seed runs the same number
    of waves, and per-wave fixed cost dominates."""

    name = "crawl_waves"

    def wave_budget(self) -> int:
        return max(1, math.ceil(self.expected["longest"] / self.size["waves"]))


# ---------------------------------------------------------------- corpus


NEAR_DUP_THRESHOLD = 0.6
MAX_HAMMING = 3


def simhash_salt(seed: int = 42) -> int:
    """The salt ``operators.dedup.simhash_pairs`` uses at its default seed."""
    return int(np.random.default_rng([seed, 911]).integers(1, 1 << 62))


class CorpusDedup(Workload):
    """Near-dup composition of a boilerplate-heavy corpus, plus SimHash
    near-dup pairs, both checked exactly against ``reference``."""

    name = "corpus_dedup"

    def generate(self) -> None:
        from .corpus import near_dup_documents

        self.docs_pdf = near_dup_documents(self.seed, self.size["docs"])

    def input_sizes(self) -> dict:
        return {"sources.pages": 2 * len(self.docs_pdf)}

    def load(self) -> None:
        """The composition input (documents and their 90 %-prefix copies,
        quality = length) and the SimHash input (documents and a
        `` x``-suffixed copy of each), as in ``bench.py`` and the gates."""
        from pyspark.sql import functions as F

        from .corpus import COPY_ID_OFFSET

        docs = self.spark.createDataFrame(self.docs_pdf, "doc_id long, text string")
        copies = docs.select(
            (F.col("doc_id") + COPY_ID_OFFSET).alias("doc_id"),
            F.expr("substring(text, 1, cast(floor(length(text) * 0.9) as int))").alias("text"),
        )
        self.enriched = self.keep_cached(
            docs.unionByName(copies).select(
                "doc_id",
                "text",
                F.length("text").cast("long").alias("quality_score"),
                F.lit(0).alias("is_dup_copy"),
            )
        )
        self.simhash_in = self.keep_cached(
            docs.unionByName(
                docs.select(
                    (F.col("doc_id") + COPY_ID_OFFSET).alias("doc_id"),
                    F.concat(F.col("text"), F.lit(" x")).alias("text"),
                )
            )
        )
        self.n_inputs = 2 * len(self.docs_pdf)

    def build_expected(self) -> None:
        """Exact answers from ``reference`` (the DuckDB oracles'
        specification in numpy; the self-test checks them against DuckDB)."""
        from . import reference

        docs = list(zip(self.docs_pdf["doc_id"].tolist(), self.docs_pdf["text"].tolist()))
        self.expected = {
            "kept": frozenset(reference.keep_set(docs, NEAR_DUP_THRESHOLD)),
            "simhash": frozenset(reference.simhash_pairs(docs, simhash_salt(), MAX_HAMMING)),
        }

    def iterate(self, out_dir: str, tracer: Tracer) -> IterResult:
        from marginaliasearch_spark.operators.dedup import simhash_pairs
        from marginaliasearch_spark.plans.corpus_pipeline import compose_training_set

        kept_path = os.path.join(out_dir, "kept")
        pairs_path = os.path.join(out_dir, "simhash_pairs")
        t0 = time.perf_counter()
        with tracer.span("plans.corpus_pipeline.compose_training_set"):
            kept = compose_training_set(
                self.enriched, near_dup_threshold=NEAR_DUP_THRESHOLD, id_col="doc_id"
            )
            kept.write.parquet(kept_path)
        with tracer.span("operators.dedup.simhash_pairs"):
            simhash_pairs(self.simhash_in, max_hamming=MAX_HAMMING).write.parquet(pairs_path)
        job_s = time.perf_counter() - t0

        got_kept = frozenset(pq.read_table(kept_path, columns=["doc_id"])["doc_id"].to_pylist())
        pt = pq.read_table(pairs_path)
        got_pairs = frozenset(
            zip(pt["id_a"].to_pylist(), pt["id_b"].to_pylist(), pt["hamming"].to_pylist())
        )
        problems = []
        if got_kept != self.expected["kept"]:
            problems.append(
                f"kept set differs from the reference: {len(got_kept)} vs "
                f"{len(self.expected['kept'])} ids"
            )
        if got_pairs != self.expected["simhash"]:
            problems.append(
                f"simhash pairs differ from the reference: {len(got_pairs)} vs "
                f"{len(self.expected['simhash'])}"
            )
        return IterResult(
            job_s=job_s,
            items=self.n_inputs,
            out_bytes=dir_bytes(out_dir),
            problems=problems,
            tracer=tracer,
            context={"kept": len(got_kept), "simhash_pairs": len(got_pairs)},
        )

    def layers(self, res: IterResult, out_dir: str) -> None:
        """Each operator the composition uses, called on its own and
        materialized, so its time and Spark work are separable."""
        from marginaliasearch_spark.operators.dedup import (
            minhash_lsh_pairs,
            unpersist_transients,
            with_minhash,
        )
        from marginaliasearch_spark.operators.graph import connected_components
        from marginaliasearch_spark.operators.sampling import dedup_keep_best

        tracer = res.tracer
        sub = self.enriched.select("doc_id", "text")
        with tracer.span("operators.dedup.with_minhash"):
            with_minhash(sub).write.format("noop").mode("overwrite").save()
        with tracer.span("operators.dedup.minhash_lsh_pairs"):
            pairs = minhash_lsh_pairs(sub, jaccard_threshold=NEAR_DUP_THRESHOLD).cache()
            n_pairs = pairs.count()
        with tracer.span("operators.graph.connected_components"):
            groups = connected_components(pairs).cache()
            n_components = groups.select("component").distinct().count()
        unpersist_transients()
        with tracer.span("operators.sampling.dedup_keep_best"):
            kept = dedup_keep_best(
                self.enriched, groups, quality_col="quality_score", id_col="doc_id"
            ).count()
        pairs.unpersist()
        groups.unpersist()
        res.layer.update(
            {
                "plans.corpus_pipeline.kept": res.context["kept"],
                "operators.dedup.simhash_pairs": res.context["simhash_pairs"],
                "operators.dedup.minhash_pairs": n_pairs,
                "operators.graph.components": n_components,
                "operators.sampling.kept": kept,
            }
        )
        for name in CORPUS_CALLS:
            sp = tracer.named(name)[-1]
            res.layer[f"{name}_s"] = sp.seconds
            res.layer[f"{name}.shuffle_bytes"] = sum(s.shuffle_write for s in sp.stages)
            res.layer[f"{name}.spark_jobs"] = sp.jobs


WORKLOADS = {w.name: w for w in (CrawlFull, CrawlWaves, CorpusDedup)}


# ---------------------------------------------------------------- run artifacts


def crawl_counts(engine) -> tuple[int, int]:
    """Visited URLs and seen (visited, known or refused) frontier URLs of a
    committed crawl."""
    from pyspark.sql import functions as F

    visited = engine.read_table("visits").count()
    seen = engine.read_table("frontier").filter(F.col("state").isin(*SEEN_STATES)).count()
    return visited, seen


def snapshot_commit_times(crawl_dir: str) -> list[float]:
    """Wall-clock commit time of each snapshot manifest, in snapshot
    order: a manifest is written to a temp file and renamed, so its mtime
    is the commit."""
    snap_dir = os.path.join(crawl_dir, "_snapshots")
    names = sorted(f for f in os.listdir(snap_dir) if f.startswith("snap-") and f.endswith(".json"))
    return [os.path.getmtime(os.path.join(snap_dir, f)) for f in names]


def wave_out_rows(wave_out: str) -> dict[str, int]:
    """Rows per ``row_kind``, from the parquet footers only."""
    rows: dict[str, int] = {}
    for dirpath, _, files in os.walk(wave_out):
        kind = os.path.basename(dirpath)
        if not kind.startswith("row_kind="):
            continue
        kind = kind[len("row_kind=") :]
        for f in files:
            if f.endswith(".parquet"):
                rows[kind] = rows.get(kind, 0) + pq.ParquetFile(os.path.join(dirpath, f)).metadata.num_rows
    return rows


def data_files(root: str) -> int:
    return sum(
        1 for _, _, files in os.walk(root) for f in files if f.endswith(".parquet")
    )
