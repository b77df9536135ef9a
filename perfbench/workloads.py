"""The benchmark's workloads. Each one drives the engine only through its
public entry points and checks every output it times.

A workload has four phases, called by ``run.py`` in this order:

- ``generate()``: builds the seeded inputs (the benchmark's own cost,
  outside every metric);
- ``prepare()``: the one-time preparation a user pays once (timed into
  ``setup_s``);
- ``op()`` then ``finish(out)``, repeated: ``op`` is one timed operation
  (a crawl round, an ``api.crawl`` call, a corpus pipeline run) and
  returns its output; ``finish`` checks the output outside the timing and
  returns the problems found (empty when correct);
- ``replay(tracer)``: the traced run's layer-at-a-time replay of the same
  work, returning the per-layer metrics.

``tamper(out)`` corrupts one output; only the smoke run calls it, to show
that each check fires.
"""

from __future__ import annotations

import glob
import hashlib
import os
import shutil

from pyspark.sql import functions as F

import inputs

RUN_ID = "bench"


def _md5(text: str | None) -> str | None:
    return None if text is None else hashlib.md5(text.encode("utf-8")).hexdigest()


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(p) for p in glob.glob(os.path.join(path, "**"), recursive=True) if os.path.isfile(p))


class CrawlWorkload:
    """Rounds of ``CrawlRun.run`` over the seeded fixture corpus, one
    round per ``run`` call (resuming from the committed
    state), so each round is timed on its own. After ``rounds`` rounds the
    state is rolled back to where the first timed round started, so every
    repetition does the same work. The first round's (scheduled, fetched,
    seen_total) must equal the counts ``inputs.expected_round`` derives
    from the inputs with the reference kernels; later rounds must repeat
    their first repetition's counts.

    ``polite=False`` (crawl_bulk): robots ``max_per_round`` lifted, crawl
    from the seed list. ``polite=True`` (crawl_polite): the fixture's own
    budgets, resuming from a round-0 state whose seen set engages the
    bloom pre-filter."""

    unit = "URLs"

    def __init__(self, spark, work: str, seed: int, size: dict, polite: bool):
        self.spark, self.work, self.seed, self.size, self.polite = spark, work, seed, size, polite
        self.first = 1 if polite else 0
        self.rounds = size["rounds"]
        self.state_dir = os.path.join(work, "state")
        self.next_round = self.first
        self.expected: dict[int, tuple[int, int, int]] = {}

    # -- phases ---------------------------------------------------------------
    def generate(self) -> None:
        from pathik_spark.kernels.canonical import canonicalize_url
        from pathik_spark.sources.tables import make_store

        corpus = inputs.crawl_corpus(self.work, self.seed, self.size["pages"], self.size["seeds"])
        self.corpus = corpus["dir"]
        prior, seen = 0, set()
        if self.polite:
            store = make_store(self.spark, self.state_dir, RUN_ID, backend="parquet")
            overlap = inputs.overlap_urls(self.seed, corpus["seeds"]["url"], self.size["overlap"])
            prior = inputs.write_prior_state(self.spark, store, corpus, self.seed, self.size["prior_seen"], overlap)
            seen = {canonicalize_url(u) for u in overlap}
        scheduled, fetched = inputs.expected_round(corpus, seen, lifted=not self.polite)
        self.expected[self.first] = (scheduled, fetched, prior + fetched)
        pages = corpus["pages"]
        self.golden = {canonicalize_url(u): _md5(t) for u, t in zip(pages["url"], pages["text"])}

    def _table(self, name: str):
        return self.spark.read.parquet(os.path.join(self.corpus, f"{name}.parquet"))

    def _new_run(self):
        from pathik_spark.config import CrawlConfig
        from pathik_spark.plans.driver import CrawlRun

        robots = self._table("robots")
        if not self.polite:
            robots = robots.withColumn("max_per_round", F.lit(1 << 30))
        # every other knob (pages_buckets included) at its default, so a
        # round pays what a default CrawlConfig user pays
        cfg = CrawlConfig(run_id=RUN_ID, n_rounds=self.first + self.rounds, state_backend="parquet")
        return CrawlRun(self.spark, self._table("pages"), robots, self._table("links"), self.state_dir, cfg)

    def prepare(self) -> None:
        self.seeds = self._table("seeds")
        self.run = self._new_run()
        self.run._prepared_pages()
        self.run._prepared_links()

    def op(self):
        k = self.next_round
        stats = self.run.run(self.seeds, n_rounds=k + 1)
        return k, stats

    def finish(self, out) -> list[str]:
        k, stats = out
        problems = []
        if len(stats) != 1 or stats[0].round != k:
            problems.append(f"round {k}: run() returned rounds {[s.round for s in stats]}")
        else:
            st = stats[0]
            counts = (st.scheduled, st.fetched, st.seen_total)
            if st.fetched <= 0:
                problems.append(f"round {k}: fetched nothing")
            if self.expected.setdefault(k, counts) != counts:
                problems.append(f"round {k}: (scheduled, fetched, seen_total) {counts} != expected {self.expected[k]}")
            problems += self._check_artifacts(k, st.fetched)
        self.next_round = k + 1
        if self.next_round == self.first + self.rounds:
            self.rollback()
        return problems

    def _artifact_rows(self, k: int) -> list:
        arts = self.run.store.read_table(k, "artifacts").filter(F.col("status") == "fetched")
        return arts.select("url", F.md5("text").alias("h")).collect()

    def _check_artifacts(self, k: int, fetched: int, rows: list | None = None) -> list[str]:
        """Every fetched artifact's text is byte-identical (md5) to the
        fixture's golden pages.text for that canonical URL."""
        rows = self._artifact_rows(k) if rows is None else rows
        bad = [r["url"] for r in rows if self.golden.get(r["url"], "absent") != r["h"]]
        problems = []
        if len(rows) != fetched:
            problems.append(f"round {k}: {len(rows)} fetched artifacts, stats say {fetched}")
        if bad:
            problems.append(f"round {k}: {len(bad)} artifact texts differ from golden, e.g. {bad[0]}")
        return problems

    def rollback(self) -> None:
        # run() returns while the engine may still prebuild the next
        # round's bloom shards in the background; wait for it before
        # deleting the files it scans
        if self.run._bloom_future is not None:
            self.run._bloom_future.result()
        for k in range(self.first, self.first + self.rounds):
            shutil.rmtree(os.path.join(self.run.store.root, f"round={k}"), ignore_errors=True)
        self.next_round = self.first
        self.run = self._new_run()
        self.run._prepared_pages()

    def units(self, out) -> int:
        return sum(s.scheduled for s in out[1])

    def tamper(self, out) -> list[str]:
        k, stats = out
        rows = self._artifact_rows(k)
        rows[0] = {"url": rows[0]["url"], "h": _md5("tampered")}
        return self._check_artifacts(k, stats[0].fetched, rows)

    # -- traced replay ----------------------------------------------------------
    def replay(self, tr) -> dict:
        from pathik_spark.operators.discover import discover_links
        from pathik_spark.operators.fetch import extract_artifacts, fetch_join
        from pathik_spark.operators.frontier import prepare_frontier
        from pathik_spark.operators.robots import attach_robots, filter_disallowed
        from pathik_spark.operators.scheduler import schedule_round
        from pathik_spark.operators.seen import build_bloom_shards, seen_filter
        from pathik_spark.plans.driver import SEEN_COLS
        from pathik_spark.sources.tables import SnapshotStore

        spark, run, k = self.spark, self.run, self.first
        cfg, root_id = run.config, tr.current_id
        if k == 0:
            frontier = self.seeds.select("url", "seq", "priority", F.lit(0).alias("attempt"))
            seen, seen_n = None, 0
        else:
            frontier = run.store.read_table(k - 1, "next_frontier")
            seen = run.store.read_table(k - 1, "seen").select(*SEEN_COLS)
            seen_n = int(run.store.read_manifest(k - 1)["stats"]["seen_total"])
        cached = []

        def keep(df):
            cached.append(df.persist())
            return cached[-1]

        m = {}
        with tr.span("frontier.prepare"):
            m["frontier.rows_in"] = frontier.count()
            # the same plan run_round builds: prepared, then repartitioned
            # by host before robots, seen and schedule
            fr = prepare_frontier(frontier, num_shards=cfg.num_shards)
            fr = keep(fr.repartition(int(spark.conf.get("spark.sql.shuffle.partitions")), "host_hash"))
            m["frontier.rows_out"] = fr.count()
        with tr.span("robots.filter"):
            cand = keep(filter_disallowed(attach_robots(fr, run.robots)))
            n_cand = cand.count()
            m["robots.rows_dropped"] = m["frontier.rows_out"] - n_cand
        bloom_bc, m["seen.prefilter_bytes"] = None, 0
        with tr.span("seen.prefilter_build"):
            if seen is not None and seen_n >= cfg.bloom_min_seen:
                shards = build_bloom_shards(seen, fpp=cfg.bloom_fpp, max_total_bytes=cfg.prefilter_max_bytes)
                if shards:
                    m["seen.prefilter_bytes"] = sum(len(bits) for _, _, bits in shards.values())
                    bloom_bc = spark.sparkContext.broadcast(shards)
        with tr.span("seen.filter"):
            unseen = keep(seen_filter(cand, seen, bloom_bc))
            m["seen.rows_in"], m["seen.rows_out"] = n_cand, unseen.count()
        with tr.span("scheduler.schedule"):
            scheduled, deferred = schedule_round(unseen, n_salts=cfg.n_salts, persisted=cached)
            scheduled = keep(scheduled)
            m["scheduler.scheduled"], m["scheduler.deferred"] = scheduled.count(), deferred.count()
        with tr.span("fetch.join") as fetch_span:
            fetched = keep(fetch_join(scheduled, run._prepared_pages(), prepared=True))
            row = fetched.agg(
                F.count(F.when(F.col("status") == "fetched", 1)).alias("n"),
                F.sum(F.length("html")).alias("html_bytes"),
            ).first()
        m["fetch.hit_ratio"] = row["n"] / max(1, m["scheduler.scheduled"])
        with tr.span("extract_udfs.extract") as extract_span:
            arts = keep(extract_artifacts(fetched, fetch_cap=cfg.fetch_cap).drop("html"))
            n_arts = arts.count()
        store = SnapshotStore(spark, os.path.join(self.work, "replay_state"), RUN_ID)
        with tr.span("tables.write"):
            store.write_table(k, "artifacts", arts)
        with tr.span("tables.commit"):
            store.commit(k, ["artifacts"], stats={"scheduled": m["scheduler.scheduled"]})
        m["tables.bytes_per_url"] = _dir_bytes(store._round_dir(k)) / max(1, m["scheduler.scheduled"])
        with tr.span("discover.links"):
            fetched_only = arts.filter(F.col("status") == "fetched")
            disc = discover_links(
                run._prepared_links(), fetched_only, seq_base=(k + 1) * 10**12, prepared=True, persisted=cached
            )
            m["discover.rows_out"] = disc.count()
        for df in cached:
            df.unpersist()
        m.update({f"{s['name']}_s": s["dur_s"] for s in tr.spans if s["parent_id"] == root_id})
        m["fetch.tasks"] = fetch_span["tasks"]
        m["extract_udfs.tasks"] = extract_span["tasks"]
        m["extract_udfs.rows_per_task"] = n_arts / max(1, extract_span["tasks"])
        m["extract_udfs.html_mb_per_s"] = (row["html_bytes"] or 0) / (1 << 20) / extract_span["dur_s"]
        return m

    def traced_op_metrics(self, span: dict, out) -> dict:
        timers = out[1][0].extras["timers"]
        return {
            "driver.round_s": span["dur_s"],
            "driver.jobs_per_round": span["jobs"],
            "driver.tasks_per_round": span["tasks"],
            "driver.failed_tasks": span["failed_tasks"],
            **{f"driver.timer.{name}_s": timers[name] for name in ("schedule_rank", "artifacts_write", "derived_writes")},
        }


class ApiCrawlWorkload:
    """A closed loop of one client calling ``api.crawl(urls, out_dir,
    spark=, pages=)`` with a small seeded URL list per call, against the
    unprepared pages table of a fixture corpus."""

    unit = "URLs"

    def __init__(self, spark, work: str, seed: int, size: dict):
        self.spark, self.work, self.seed, self.size = spark, work, seed, size
        self.calls = 0

    def generate(self) -> None:
        from pathik_spark.kernels.extract import extract_both

        corpus = inputs.crawl_corpus(self.work, self.seed, self.size["pages"], self.size["seeds"])
        self.pages_path = os.path.join(corpus["dir"], "pages.parquet")
        pages = corpus["pages"]
        self.page_urls = sorted(pages["url"])
        self.expected_html = dict(zip(pages["url"], pages["html"]))
        self.expected_md = {u: extract_both(h)[1] for u, h in self.expected_html.items()}
        self.url_lists = inputs.api_url_lists(self.seed, self.page_urls, self.size["calls"], self.size["urls_per_call"])

    def prepare(self) -> None:
        from pathik_spark import api

        self.pages = self.spark.read.parquet(self.pages_path)
        api.crawl([self.page_urls[0]], os.path.join(self.work, "api_warmup"), spark=self.spark, pages=self.pages)

    def op(self):
        from pathik_spark import api

        urls = self.url_lists[self.calls % len(self.url_lists)]
        out_dir = os.path.join(self.work, "api_out", str(self.calls))
        self.calls += 1
        return urls, out_dir, api.crawl([u for u, _ in urls], out_dir, spark=self.spark, pages=self.pages)

    def finish(self, out) -> list[str]:
        """``success`` matches whether each URL is valid and present, and
        the written .html / .md files hold the page bytes and the
        reference markdown."""
        from pathik_spark.kernels.canonical import canonicalize_url
        from pathik_spark.kernels.extract import SAVE_CAP

        urls, out_dir, result = out
        by_canon = {canonicalize_url(u): u for u in self.page_urls}
        problems = []
        for url, kind in urls:
            res = result.get(url)
            want = kind in ("present", "dup", "uncanonical")
            if res is None or res["success"] != want:
                problems.append(f"{kind} {url}: success {res and res['success']}, expected {want}")
                continue
            if not want:
                continue
            page = by_canon[canonicalize_url(url)]
            with open(res["html"], "rb") as f:
                if f.read() != self.expected_html[page][:SAVE_CAP]:
                    problems.append(f"{url}: html file bytes differ")
            with open(res["markdown"], "rb") as f:
                if f.read() != self.expected_md[page].encode("utf-8")[:SAVE_CAP]:
                    problems.append(f"{url}: markdown file bytes differ")
        shutil.rmtree(out_dir, ignore_errors=True)
        return problems

    def units(self, out) -> int:
        return len(out[0])

    def tamper(self, out) -> list[str]:
        path = next(r["markdown"] for r in out[2].values() if r["success"])
        with open(path, "ab") as f:
            f.write(b"tampered")
        return self.finish(out)

    def replay(self, tr) -> dict:
        from pathik_spark.operators.fetch import extract_artifacts, fetch_join
        from pathik_spark.operators.frontier import prepare_frontier

        urls = [u for u, _ in self.url_lists[0]]
        seeds = self.spark.createDataFrame(
            [(u, i, 0) for i, u in enumerate(urls)], "url string, seq long, priority int"
        )
        with tr.span("api.fetch_join") as join_span:
            fetched = fetch_join(prepare_frontier(seeds), self.pages).persist()
            fetched.count()
        with tr.span("api.extract") as extract_span:
            arts = extract_artifacts(fetched, with_markdown=True).persist()
            arts.count()
        arts.unpersist()
        fetched.unpersist()
        return {
            "api.fetch_join_s": join_span["dur_s"],
            "api.extract_s": extract_span["dur_s"],
            "api.pages_rows_per_url": self.pages.count() / len(urls),
        }

    def traced_op_metrics(self, span: dict, out) -> dict:
        return {
            "api.call_s": span["dur_s"],
            "api.jobs_per_call": span["jobs"],
            "api.tasks_per_call": span["tasks"],
        }


class CorpusCleanWorkload:
    """``api.prepare_training_corpus`` over a generated documents table
    of C4-passable English-like text plus seeded near-duplicate copies.
    One operation materializes both the corpus and its report."""

    unit = "docs"

    def __init__(self, spark, work: str, seed: int, size: dict):
        self.spark, self.work, self.seed, self.size = spark, work, seed, size

    def generate(self) -> None:
        df, self.copies = inputs.documents(self.seed, self.size["docs"], self.size["dup_share"])
        self.docs_path = os.path.join(self.work, "documents.parquet")
        self.spark.createDataFrame(df).write.mode("overwrite").parquet(self.docs_path)
        self.n_docs = len(df)

    def prepare(self) -> None:
        self.docs = self.spark.read.parquet(self.docs_path)
        self.docs.count()

    def op(self):
        from pathik_spark import api

        corpus, report = api.prepare_training_corpus(self.docs)
        kept = sorted(r["doc_id"] for r in corpus.select("doc_id").collect())
        return kept, report.collect()

    def finish(self, out) -> list[str]:
        """The kept doc-id set is exactly the originals: each original is
        distinct C4-passable English text and each copy a near-duplicate
        of a lower-id original, so a correct pipeline keeps every original
        and no copy. The report counts every kept document."""
        kept, report = out
        problems = []
        originals = set(range(self.n_docs - len(self.copies)))
        missing, leaked = sorted(originals - set(kept)), sorted(set(kept) - originals)
        if missing:
            problems.append(f"{len(missing)} of {len(originals)} original documents dropped, e.g. doc {missing[0]}")
        if leaked:
            problems.append(f"{len(leaked)} near-duplicate copies kept, e.g. doc {leaked[0]}")
        if sum(r["n_docs"] for r in report) != len(kept):
            problems.append(f"report counts {sum(r['n_docs'] for r in report)} docs, corpus has {len(kept)}")
        return problems

    def units(self, out) -> int:
        return self.n_docs

    def tamper(self, out) -> list[str]:
        kept, report = out
        return self.finish((kept[:-1], report))

    def replay(self, tr) -> dict:
        from pathik_spark.operators.dedup import jaccard_pairs, lsh_candidate_pairs, minhash_signatures, word_shingles
        from pathik_spark.operators.linedup import c4_clean, line_dedup
        from pathik_spark.operators.quality import clean_corpus, filter_soft404s
        from pathik_spark.operators.report import corpus_report
        from pathik_spark.operators.sampling import hash_split

        root_id, cached = tr.current_id, []

        def keep(df):
            cached.append(df.persist())
            cached[-1].count()
            return cached[-1]

        m = {}
        staged = self.docs.select("doc_id", "text")
        with tr.span("quality.soft404"):
            staged = keep(filter_soft404s(staged))
        with tr.span("linedup.c4"):
            staged = keep(c4_clean(staged).filter(F.col("keep")).select("doc_id", "text"))
        with tr.span("linedup.line_dedup"):
            staged = keep(line_dedup(staged, max_occurrences=1000).select("doc_id", "text"))
        with tr.span("dedup.shingles"):
            shingles = keep(word_shingles(staged, distinct=False))
        with tr.span("dedup.minhash"):
            sigs = keep(minhash_signatures(shingles))
        with tr.span("dedup.lsh"):
            cands = keep(lsh_candidate_pairs(sigs, compact32=True))
            m["dedup.candidate_pairs"] = cands.count()
        with tr.span("dedup.jaccard"):
            pairs = keep(jaccard_pairs(shingles, cands, threshold=0.8, hashed=True).select("doc_a", "doc_b"))
            m["dedup.verified_pairs"] = pairs.count()
        m["dedup.verify_ratio"] = m["dedup.verified_pairs"] / max(1, m["dedup.candidate_pairs"])
        with tr.span("quality.clean_corpus"):
            verdict = clean_corpus(staged, pairs)
            kept = keep(staged.join(verdict.filter(F.col("keep")).select("doc_id", "lang_guess", "quality"), "doc_id"))
        with tr.span("sampling.split"):
            corpus = keep(
                hash_split(
                    kept.withColumn("_key", F.col("doc_id").cast("string")),
                    {"train": 0.98, "val": 0.01, "test": 0.01},
                    key_col="_key",
                )
            )
        with tr.span("report.report"):
            corpus_report(corpus, group_cols=("lang_guess", "split")).collect()
        m["corpus.kept_ratio"] = kept.count() / self.n_docs
        for df in cached:
            df.unpersist()
        m.update({f"{s['name']}_s": s["dur_s"] for s in tr.spans if s["parent_id"] == root_id})
        return m

    def traced_op_metrics(self, span: dict, out) -> dict:
        return {"api.prepare_training_corpus_s": span["dur_s"]}
