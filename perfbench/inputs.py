"""Seeded input generation. The same seed gives the same inputs; the
engine receives only the generated tables and files.

- crawl corpora: the fixture corpus (pages with golden ``text``, seeds,
  robots, links), seeded by the benchmark seed;
- the polite crawl's round-0 state: a prior seen set written through
  the public ``SnapshotStore`` with a seeded share overlapping the
  frontier;
- ``api.crawl`` URL lists mixing present, missing, invalid, duplicate
  and uncanonical URLs, with the expected outcome of each;
- a training-text documents table with seeded near-duplicate copies.
"""

from __future__ import annotations

import hashlib
import os
import random

import pandas as pd

# marker words of the engine's heuristic language ID and short tokens
# are kept out of the synthetic vocabulary so every document reads as
# English text (functions/text_constants.LANG_MARKERS)
EN_STOP = ("the", "and", "of", "to", "in", "is", "that", "for", "with", "was", "be", "have")
FOREIGN_MARKERS = frozenset(
    "der die das und ist nicht mit ein eine zu le la les et est une des dans "
    "pour que el los las es una para con del por como".split()
)
SYLLABLES = (
    "ka ro mi te su na lo ve pri dan tor mel qua sen bri lum gar hes vin cor "
    "pel tam ris nox fal dre kin shu mor zel ban tic gro ple van sar wen"
).split()


CORPUS_SCHEMAS = {
    "pages": [("url", "string"), ("warc_ts", "timestamp"), ("html", "binary"), ("text", "string"), ("lang", "string")],
    "seeds": [("url", "string"), ("seq", "int64"), ("priority", "int32")],
    "robots": [
        ("host", "string"),
        ("crawl_delay_ms", "int64"),
        ("disallow_prefixes", "list"),
        ("max_per_round", "int32"),
        ("fetched_ts", "timestamp"),
    ],
    "links": [("src_url", "string"), ("dst_url", "string")],
}


def crawl_corpus(work: str, seed: int, n_pages: int, n_seeds: int) -> dict:
    """The fixture corpus for ``seed`` (``fixtures.gen_corpus``, byte-identical
    to ``write_corpus_spark``'s tables), written as one parquet file per
    table with the fixture schemas. Generating in-process keeps input
    generation off the Spark session the benchmark times. Returns the
    pandas tables plus ``dir``, the corpus directory."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pathik_spark import fixtures

    types = {
        "string": pa.string(),
        "binary": pa.binary(),
        "int32": pa.int32(),
        "int64": pa.int64(),
        "timestamp": pa.timestamp("us", tz="UTC"),
        "list": pa.list_(pa.string()),
    }
    corpus = fixtures.gen_corpus(n_pages, n_seeds, seed=seed)
    out = os.path.join(work, "corpus")
    for name, cols in CORPUS_SCHEMAS.items():
        schema = pa.schema([(col, types[t]) for col, t in cols])
        os.makedirs(os.path.join(out, f"{name}.parquet"))
        table = pa.Table.from_pandas(corpus[name], schema=schema, preserve_index=False)
        pq.write_table(table, os.path.join(out, f"{name}.parquet", "part-00000.parquet"))
    corpus["dir"] = out
    return corpus


def overlap_urls(seed: int, urls, share: float) -> list[str]:
    """The ``share`` of ``urls`` chosen by a hash of (seed, url)."""
    cut = int(share * 10_000)
    return [u for u in urls if int(hashlib.md5(f"{seed}:{u}".encode()).hexdigest(), 16) % 10_000 < cut]


def write_prior_state(spark, store, corpus: dict, seed: int, n_prior: int, overlap: list[str]) -> int:
    """Commit a round-0 state through the public SnapshotStore: the
    corpus seed list as the next frontier, and a seen set of ``n_prior``
    archive URLs over the corpus hosts plus the ``overlap`` frontier
    URLs. Returns the seen-set size."""
    from pyspark.sql import functions as F

    from pathik_spark.functions import urls as U
    from pathik_spark.operators.frontier import NUM_SHARDS_DEFAULT, prepare_frontier

    hosts = sorted(corpus["robots"]["host"])
    seeds = spark.read.parquet(os.path.join(corpus["dir"], "seeds.parquet"))
    frontier = seeds.select("url", "seq", "priority", F.lit(0).alias("attempt"))
    host_arr = F.array(*[F.lit(h) for h in hosts])
    pick = F.pmod(F.xxhash64("id", F.lit(seed)), F.lit(len(hosts))) + 1
    # archive URLs are generated in canonical form, so their identity is
    # the plain hash of the string (what prepare_frontier computes)
    url = F.concat(F.lit("https://"), F.element_at(host_arr, pick.cast("int")), F.lit(f"/archive/s{seed}-"), F.col("id").cast("string"))
    archive = spark.range(n_prior).select(url.alias("url")).select(
        U.url_hash_expr(F.col("url")).alias("url_hash"),
        U.host_hash_expr(U.hostname_of(F.col("url")), NUM_SHARDS_DEFAULT).alias("host_hash"),
        "url",
    )
    known = prepare_frontier(
        spark.createDataFrame([(u, i, 0) for i, u in enumerate(overlap)], "url string, seq long, priority int")
    )
    seen = store.write_table(0, "seen", archive.unionByName(known.select("url_hash", "host_hash", "url")))
    store.write_table(0, "next_frontier", frontier)
    n_seen = seen.count()
    store.commit(0, ["seen", "next_frontier"], stats={"seen_total": n_seen})
    return n_seen


def expected_round(corpus: dict, seen: set[str], lifted: bool) -> tuple[int, int]:
    """(scheduled, fetched) of the first round over the corpus seed list,
    computed with the reference kernels: valid URLs, canonicalized and
    deduplicated (lowest (priority, seq) wins), robots disallow prefixes
    applied, ``seen`` canonical URLs removed, then each host's first
    ``max_per_round`` by (priority, seq) scheduled (every one when
    ``lifted``); fetched are the scheduled URLs present in pages."""
    from pathik_spark.kernels.canonical import canonicalize_url, url_host, validate_url

    robots = {r.host: r for r in corpus["robots"].itertuples()}
    best: dict[str, tuple[int, int]] = {}
    for r in corpus["seeds"].itertuples():
        canon = canonicalize_url(r.url) if validate_url(r.url) else None
        if canon is not None and canon not in seen:
            best[canon] = min(best.get(canon, (r.priority, r.seq)), (r.priority, r.seq))
    by_host: dict[str, list] = {}
    for canon, key in best.items():
        host = url_host(canon)
        rule = robots.get(host)
        path = canon.split("/", 3)[3] if canon.count("/") >= 3 else ""
        if rule is not None and any(("/" + path).startswith(p) for p in rule.disallow_prefixes):
            continue
        by_host.setdefault(host, []).append((key, canon))
    pages = {canonicalize_url(u) for u in corpus["pages"]["url"]}
    scheduled = fetched = 0
    for host, cands in by_host.items():
        budget = len(cands) if lifted or host not in robots else robots[host].max_per_round
        for _, canon in sorted(cands)[:budget]:
            scheduled += 1
            fetched += canon in pages
    return scheduled, fetched


def _vocabulary(rng: random.Random, n_words: int) -> list[str]:
    words: set[str] = set()
    while len(words) < n_words:
        w = "".join(rng.choice(SYLLABLES) for _ in range(rng.randint(2, 3)))
        if w not in FOREIGN_MARKERS:
            words.add(w)
    return sorted(words)


def documents(seed: int, n_docs: int, dup_share: float) -> tuple[pd.DataFrame, dict[int, int]]:
    """(doc_id, text, lang, source, n_chars) rows: ``n_docs`` originals
    of 4-8 C4-passable sentence lines, then ``dup_share * n_docs``
    near-duplicate copies (one inner word substituted per ~50 words), whose
    ids follow the originals. Returns the table and {copy id: original
    id}."""
    rng = random.Random(seed)
    vocab = _vocabulary(rng, 3000)

    def line() -> str:
        words = [
            rng.choice(EN_STOP) if rng.random() < 0.3 else rng.choice(vocab)
            for _ in range(rng.randint(8, 16))
        ]
        return " ".join(words).capitalize() + "."

    texts = ["\n".join(line() for _ in range(rng.randint(4, 8))) for _ in range(n_docs)]
    copies: dict[int, int] = {}
    for k in range(int(n_docs * dup_share)):
        orig = rng.randrange(n_docs)
        lines = [ln.split(" ") for ln in texts[orig].split("\n")]
        n_words = sum(len(ln) for ln in lines)
        for _ in range(max(1, n_words // 50)):
            ln = rng.choice(lines)
            ln[rng.randrange(1, len(ln) - 1)] = rng.choice(vocab)  # keep the first and the terminal word
        copies[n_docs + k] = orig
        texts.append("\n".join(" ".join(ln) for ln in lines))
    df = pd.DataFrame(
        {
            "doc_id": range(len(texts)),
            "text": texts,
            "lang": "en",
            "source": [f"src{i % 4}" for i in range(len(texts))],
            "n_chars": [len(t) for t in texts],
        }
    )
    return df, copies


def api_url_lists(seed: int, page_urls: list[str], n_calls: int, size: int) -> list[list[tuple[str, str]]]:
    """Per call, ``size`` (url, kind) pairs. Kinds: ``present`` (a corpus
    url), ``dup`` (an exact repeat of a present url in the same call),
    ``uncanonical`` (a variant of a corpus url not otherwise listed),
    ``missing`` (valid, absent from pages) and ``invalid`` (fails
    validation). Success is expected exactly for present, dup and
    uncanonical."""
    rng = random.Random(seed * 7919 + 17)
    invalid = ("ftp://host0.example/sec0/page0", "https://localhost/sec1/x", "https://10.0.0.8/sec2/y")
    calls = []
    for c in range(n_calls):
        n_present = size // 2
        chosen = rng.sample(page_urls, n_present + size // 8)
        present, spare = chosen[:n_present], chosen[n_present:]
        urls = [(u, "present") for u in present]
        urls += [(u, "dup") for u in rng.sample(present, size // 8)]
        for u in spare:
            variant = rng.choice(
                (u.replace("https://", "HTTPS://", 1), u.replace(".example/", ".example:443/", 1), u.split("#")[0] + "#bench")
            )
            urls.append((variant, "uncanonical"))
        urls += [(f"https://host0.example/sec0/missing-s{seed}-c{c}-{i}", "missing") for i in range(size // 8)]
        urls += [(rng.choice(invalid), "invalid") for _ in range(size - len(urls))]
        rng.shuffle(urls)
        calls.append(urls)
    return calls
