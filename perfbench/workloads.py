"""The benchmark workloads: seeded input generation, the timed op, and
the output check.

Inputs are generated from the seed before Spark starts (pure Python +
pyarrow) and written as files under the run's scratch dir, so
each op reads them the way a user would. Every op is a call into the
engine's public entry points; every check compares against a closed
form or an independent reference computed outside the timed region.
"""

from __future__ import annotations

import hashlib
import os
import random
import re
import shutil
import time
from collections import Counter
from dataclasses import dataclass, field
from datetime import datetime, timedelta

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# Sizes per workload. "tiny" is the self-test size: same code paths,
# seconds per op instead of tens.
SIZES = {
    "crawl_kg": {
        "full": {"base_pages_per_archive": 10, "pages_per_archive": 25, "kb_size": 300},
        "tiny": {"base_pages_per_archive": 4, "pages_per_archive": 4, "kb_size": 60},
    },
    "kb_align": {
        "full": {"source": 1200, "target": 1200, "overlap": 0.7},
        "tiny": {"source": 150, "target": 150, "overlap": 0.7},
    },
    "corpus_curate": {
        "full": {"docs": 5000},
        "tiny": {"docs": 300},
    },
    "kg_rank": {
        "full": {"nodes": 6000, "out_degree": 3, "farms": 8, "farm_size": 12},
        "tiny": {"nodes": 500, "out_degree": 3, "farms": 3, "farm_size": 5},
    },
}

# kb_align quality floors. Seed 1 at the full size measured P 1.000 and
# R 0.793 over 840 gold pairs; the recall floor sits ~6 binomial
# standard deviations below that, so only a real quality drop fails.
ALIGN_MIN_PRECISION = 0.95
ALIGN_MIN_RECALL = 0.70


@dataclass
class Output:
    """What an op hands to its check: `rows` is the collected result
    the check compares (the self-test drops one of them), `extra` the
    side facts (manifest, counters). An op made of two phases times
    them itself: `items_wall_s` is the wall its items are divided by,
    `latency_s` its latency; left None, both are the whole op's wall."""

    rows: list
    extra: dict = field(default_factory=dict)
    items_wall_s: float | None = None
    latency_s: float | None = None


def _digest(rows) -> str:
    h = hashlib.sha256()
    for r in sorted(repr(tuple(r)) for r in rows):
        h.update(r.encode())
    return h.hexdigest()[:16]


def _entity_table(rows: list[dict]) -> pa.Table:
    schema = pa.schema([
        ("research_entity_id", pa.string()),
        ("canonical_name", pa.string()),
        ("aliases", pa.list_(pa.string())),
        ("definition", pa.string()),
        ("source_urls", pa.list_(pa.string())),
        ("category", pa.string()),
        ("other_contexts", pa.list_(pa.string())),
        ("additional_details", pa.map_(pa.string(), pa.list_(pa.string()))),
    ])
    return pa.Table.from_pylist(rows, schema=schema)


def _entity(kb: str, c: int, name: str, aliases: list[str]) -> dict:
    """One entity row with datagen.synthetic_kb's field values for concept c."""
    from ontoemma_spark import datagen

    cat = datagen._CATEGORIES[c % len(datagen._CATEGORIES)]
    return {
        "research_entity_id": f"{kb}:{kb}:{c:07d}",
        "canonical_name": name,
        "aliases": aliases,
        "definition": f"a {cat} involving {name.split(' type')[0]}",
        "source_urls": [],
        "category": cat,
        "other_contexts": [f"context sentence about {name}"],
        "additional_details": [
            ("wiki_entities", [f"wiki_{datagen._NOUNS[c % len(datagen._NOUNS)]}"])
        ],
    }


def _kb_rows(kb: str, concepts) -> list[dict]:
    """datagen.synthetic_kb's entity rows (without its edges), as plain rows."""
    from ontoemma_spark import datagen

    rows = []
    for c in concepts:
        name = datagen.concept_name(c)
        rows.append(_entity(kb, c, name, datagen._aliases(name, kb, c)))
    return rows


class Workload:
    name = ""
    item = ""

    def __init__(self, seed: int, work: str, size: str = "full"):
        self.seed = seed
        self.work = work
        self.sizes = SIZES[self.name][size]
        self.rng = random.Random(seed)
        self.spark = None
        self.info: dict = {}

    def generate(self) -> None:
        """Write the seeded inputs under self.work (no Spark)."""

    def bind(self, spark) -> None:
        self.spark = spark

    def op(self, k: int) -> tuple[int, Output]:
        """The k-th timed op; returns (items processed, output)."""
        raise NotImplementedError

    def collect(self, out: Output) -> None:
        """Untimed read-back of what the op wrote, for the check."""

    def trace_counts(self, out: Output) -> dict[str, float]:
        """Bases of the per-layer ratios taken from the op's own output."""
        return {}

    def check(self, k: int, out: Output) -> str | None:
        """None when the output is correct, else what is wrong."""
        raise NotImplementedError

    def warm_up(self) -> str | None:
        """The untimed set-up op, checked like check(); by default one
        timed op."""
        _, out = self.op(0)
        self.collect(out)
        return self.check(0, out)


# --------------------------------------------------------------- crawl_kg


class CrawlKG(Workload):
    name = "crawl_kg"
    item = "base crawl page built into the KG by the full build"

    def generate(self):
        from ontoemma_spark import datagen

        self.datagen = datagen
        self.kb_size = self.sizes["kb_size"]
        self.n_base = max(len(os.sched_getaffinity(0)), 4)  # >= one archive per core
        self.next_page = self.rng.randrange(0, 10**6)
        self.archives: list[list[int]] = []  # page ids per archive, crawl order
        self.crawl = os.path.join(self.work, "crawl")
        self.out_dir = os.path.join(self.work, "kg_out")
        os.makedirs(self.crawl)
        for _ in range(self.n_base):
            self._new_archive(self.sizes["base_pages_per_archive"])
        self.base_pages = [p for ps in self.archives for p in ps]
        pq.write_table(
            _entity_table(_kb_rows("KB", range(self.kb_size))),
            os.path.join(self.work, "kb.parquet"),
        )
        self.info = {
            "base_archives": self.n_base,
            "base_pages": len(self.base_pages),
            "pages_per_update": self.sizes["pages_per_archive"],
            "kb_entities": self.kb_size,
        }

    def _archive_path(self, i: int) -> str:
        return os.path.join(self.crawl, f"crawl-{i:05d}.warc.gz")

    def _new_archive(self, n: int) -> None:
        """Write the crawl's next member-gzip WARC archive of n new pages."""
        from ontoemma_spark.sources.warc import write_warc

        pages = list(range(self.next_page, self.next_page + n))
        self.next_page += n
        epoch = datetime(2026, 1, 1)
        rows = [
            (f"https://example.org/page/{p}", epoch + timedelta(seconds=p),
             self.datagen.page_html(p, self.kb_size))
            for p in pages
        ]
        with open(self._archive_path(len(self.archives)), "wb") as f:
            write_warc(rows, f, gzip_members=True)
        self.archives.append(pages)

    def trace_counts(self, out):
        ext = out.extra["manifest"]["stages"]["extract"]["metrics"]
        out_bytes = sum(
            os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(self.out_dir) for f in fs
        )
        crawl_bytes = sum(os.path.getsize(os.path.join(self.crawl, f)) for f in os.listdir(self.crawl))
        return {
            "pages": ext["pages"], "triples": ext["triples"],
            "checkpoint_mb": out_bytes / 2**20, "input_mb": crawl_bytes / 2**20,
        }

    def _edges(self, manifest: dict):
        from ontoemma_spark import tableio

        return tableio.read_stage(self.spark, manifest["stages"]["materialize"])

    def _pipeline(self, incremental: bool) -> dict:
        from ontoemma_spark.pipeline import run_pipeline
        from ontoemma_spark.sources.warc import load_warc

        spark = self.spark
        kb = spark.read.parquet(os.path.join(self.work, "kb.parquet"))
        return run_pipeline(
            spark, load_warc(spark, self.crawl), kb, self.out_dir, incremental=incremental
        )

    def _full_build(self) -> dict:
        """The crawl reset to its base archives, built into a fresh out_dir."""
        for i in range(self.n_base, len(self.archives)):
            os.remove(self._archive_path(i))
        del self.archives[self.n_base:]
        shutil.rmtree(self.out_dir, ignore_errors=True)
        return self._pipeline(incremental=False)

    def warm_up(self):
        """One scan of the base crawl and the KB: it starts the Python
        workers and the WARC scanner. The full build stays the round's
        first pipeline run in the session, as in a batch job; a warm-up
        build would cost a cold build (~2.5x a warm one) in every run,
        which the A/B time budget has no room for."""
        from ontoemma_spark.sources.warc import load_warc

        pages = load_warc(self.spark, self.crawl).count()
        kb = self.spark.read.parquet(os.path.join(self.work, "kb.parquet")).count()
        if (pages, kb) != (len(self.base_pages), self.kb_size):
            return f"scanned {pages} pages / {kb} KB rows != {len(self.base_pages)} / {self.kb_size}"
        return None

    def op(self, k):
        """One round from the base crawl: the full build into a fresh
        out_dir (timed: items_wall_s), then a new archive arrives and the
        incremental update over the whole crawl re-ranks the KG's
        entities with pagerank (timed: latency_s)."""
        from pyspark.sql import functions as F

        from ontoemma_spark.operators.graph import pagerank

        t0 = time.time()
        full = self._full_build()
        build_s = time.time() - t0
        self._new_archive(self.sizes["pages_per_archive"])
        t0 = time.time()
        manifest = self._pipeline(incremental=True)
        kg = self._edges(manifest).select(
            F.col("subject_id").alias("src"), F.col("object_id").alias("dst")
        )
        ranks = [("pr", r["node"], r["rank"]) for r in pagerank(kg, 5).collect()]
        out = Output(rows=[], extra={"full": full, "manifest": manifest, "graph": ranks},
                     items_wall_s=build_s, latency_s=time.time() - t0)
        return len(self.base_pages), out

    def collect(self, out: Output) -> None:
        """Read back the materialized edge table (outside the timed op)."""
        rows = self._edges(out.extra["manifest"]).select(
            "url", "sent_idx", "relation_type", "subject_id", "object_id"
        ).collect()
        out.rows = [tuple(r[:3]) for r in rows]
        out.extra["kg_pairs"] = [(r[3], r[4]) for r in rows]

    def _closed_form(self, pages: list[int]) -> list[tuple]:
        return sorted(
            (f"https://example.org/page/{p}", idx, pred)
            for p in pages
            for idx, (_s, pred, _o) in enumerate(self.datagen.page_sentences(p, self.kb_size))
        )

    def _check_full(self, manifest: dict) -> str | None:
        n_base = len(self._closed_form(self.base_pages))
        full = manifest["stages"]
        if full["extract"]["metrics"].get("pages") != len(self.base_pages) or (
            full["materialize"]["metrics"]["edges"] != n_base
        ):
            return (f"full build counters {full['extract']['metrics']} / "
                    f"{full['materialize']['metrics']} != pages {len(self.base_pages)} "
                    f"edges {n_base}")
        return None

    def check(self, k, out):
        err = self._check_full(out.extra["full"])
        if err:
            return err
        pages = [p for ps in self.archives for p in ps]
        expected = self._closed_form(pages)
        got = sorted(out.rows)
        st = out.extra["manifest"]["stages"]
        ext = st["extract"]["metrics"]
        if got != expected:
            return f"edges: {len(got)} rows != closed form {len(expected)}"
        if ext.get("pages") != len(pages) or ext.get("triples") != len(expected):
            return f"extract counters {ext} != pages {len(pages)} triples {len(expected)}"
        if st["materialize"]["metrics"]["edges"] != len(expected):
            return f"materialize edges {st['materialize']['metrics']} != {len(expected)}"
        if not st["link"]["metrics"].get("links"):
            return "no mention linked to the KB"
        return check_graph(out.extra["graph"], graph_reference(out.extra["kg_pairs"]), ("pr",))


# --------------------------------------------------------------- kb_align


def _typo(tok: str, r: random.Random) -> str:
    j = r.randrange(0, len(tok) - 1)
    return tok[:j] + tok[j + 1] + tok[j] + tok[j + 2:]


class KBAlign(Workload):
    name = "kb_align"
    item = "source entity aligned (align + connected_components)"

    def generate(self):
        from ontoemma_spark import datagen

        s = self.sizes
        n_s, n_t = s["source"], s["target"]
        t_off = int(round(n_s * (1 - s["overlap"])))
        src = _kb_rows("S", range(n_s))
        tgt = []
        r = self.rng
        for c in range(t_off, t_off + n_t):
            name = datagen.concept_name(c)
            kind = r.randrange(5)
            if kind == 1:  # case
                name = name.upper() if r.random() < 0.5 else name.title()
            elif kind == 2:  # underscores
                name = name.replace(" ", "_")
            elif kind == 4:  # one-token typo in a word token
                toks = name.split(" ")
                w = r.choice([0, 1])
                toks[w] = _typo(toks[w], r)
                name = " ".join(toks)
            aliases = [name]
            if kind != 3 and kind != 4:  # 3: dropped aliases
                aliases += [name.replace(" ", "_"), name.upper()]
            tgt.append(_entity("T", c, name, aliases))
        pq.write_table(_entity_table(src), os.path.join(self.work, "source.parquet"))
        pq.write_table(_entity_table(tgt), os.path.join(self.work, "target.parquet"))
        self.gold = {
            (f"S:S:{c:07d}", f"T:T:{c:07d}") for c in range(t_off, min(n_s, t_off + n_t))
        }
        self.digest = None
        self.info = {"source_entities": n_s, "target_entities": n_t, "gold_pairs": len(self.gold)}

    def op(self, k):
        from ontoemma_spark.align import align
        from ontoemma_spark.operators.components import connected_components

        spark = self.spark
        s = spark.read.parquet(os.path.join(self.work, "source.parquet"))
        t = spark.read.parquet(os.path.join(self.work, "target.parquet"))
        res = align(s, t)
        rows = [tuple(r) for r in res.alignment.select("s_id", "t_id", "score").collect()]
        pairs = spark.createDataFrame([(a, b) for a, b, _ in rows], "s_id string, t_id string")
        comps = [tuple(r) for r in connected_components(pairs, src="s_id", dst="t_id").collect()]
        return self.info["source_entities"], Output(rows=rows, extra={"components": comps})

    def check(self, k, out):
        got = {(a, b) for a, b, _ in out.rows}
        if len(got) != len(out.rows) or len({a for a, _ in got}) != len(got):
            return "BEST strategy returned more than one target per source"
        tp = len(got & self.gold)
        p = tp / len(got) if got else 0.0
        rec = tp / len(self.gold)
        self.info["precision"], self.info["recall"] = round(p, 4), round(rec, 4)
        if p < ALIGN_MIN_PRECISION or rec < ALIGN_MIN_RECALL:
            return f"precision {p:.4f} / recall {rec:.4f} below floors"
        d = _digest(out.rows)
        if self.digest is None:
            self.digest = d
        elif d != self.digest:
            return f"alignment digest {d} != first op's {self.digest}"
        self.info["digest"] = d
        # connected components over the alignment: min endpoint id
        parent: dict = {}

        def find(x):
            while parent.setdefault(x, x) != x:
                x = parent[x]
            return x

        for a, b in got:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        expected = sorted((n, find(n)) for n in list(parent))
        if sorted(out.extra["components"]) != expected:
            return "connected_components over the alignment disagrees with union-find"
        return None


# ---------------------------------------------------------- corpus_curate

# The shape of the repo's sf0.1 `documents` test table, measured on its
# 5000 rows (perfbench/README.md, "corpus_curate inputs"): 30 words,
# each 3.5% +- 0.1% of all tokens ("the" and "a" among them); 10-99
# tokens per doc, uniform; exactly one doc in 20 is another doc's text
# plus " dup" (drawn in doc order, so a few copy a copy); lang drawn
# per doc, en 41% and zh/es/fr/de 14-15% each; source src{doc_id % 20}.
_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_LANGS, _LANG_WEIGHTS = ["en", "zh", "es", "fr", "de"], [40, 15, 15, 15, 15]


def _md5(x: str) -> str:
    return hashlib.md5(x.encode()).hexdigest()


def curate_reference(docs: pd.DataFrame, stats: dict | None = None) -> list[tuple]:
    """Plain-Python evaluation of the repo's DuckDB twin of the curate
    pass (plans.demo_queries.SQL_CURATE_CORPUS), step for step: the twin
    itself costs minutes per thousand documents in DuckDB, this costs
    about a second. The self-test pins the two to identical rows. The
    generated text holds no e-mail, phone or IP pattern, so the twin's
    PII rewrite leaves it unchanged and is not repeated here. `stats`,
    if given, receives the row count after each step."""
    from ontoemma_spark.functions.stopwords import ENGLISH_STOPWORDS_SORTED
    from ontoemma_spark.plans import demo_queries as dq

    stop = set(ENGLISH_STOPWORDS_SORTED)
    ids = docs["doc_id"].tolist()
    toks = {d: t.split(" ") for d, t in zip(ids, docs["text"])}
    shingles = {d: [f"{a} {b}" for a, b in zip(t, t[1:])] for d, t in toks.items()}

    def quality(t: list[str]) -> float:
        n = len(t)
        return (
            0.25 * (n >= 20)
            + 0.25 * (3 <= sum(map(len, t)) / n <= 10)
            + 0.25 * (sum(x in stop for x in t) / n <= 0.5)
            + 0.25 * (len(set(t)) / n >= 0.2)
        )

    def dup_frac(sh: list[str]) -> float | None:
        if not sh:
            return None
        return sum(c for c in Counter(sh).values() if c > 1) / len(sh)

    gated = []
    for d in ids:
        f = dup_frac(shingles[d])
        if quality(toks[d]) >= 0.5 and (f is None or f < 0.3):
            gated.append(d)

    def grams(t: list[str]) -> set[str]:
        return {" ".join(t[i:i + 5]) for i in range(len(t) - 4)}

    bench = set().union(*(grams(toks[d]) for d in ids if d % 50 == 0))
    clean = [d for d in gated if not grams(toks[d]) & bench]

    sets = {d: set(shingles[d]) for d in clean}
    hashes: dict[str, list[str]] = {}  # shingle -> its md5 per hash k

    def minhashes(x: str) -> list[str]:
        if x not in hashes:
            hashes[x] = [_md5(f"{k}:{x}") for k in range(dq.NUM_MINHASHES)]
        return hashes[x]

    sig = {d: [min(col) for col in zip(*map(minhashes, sh))] for d, sh in sets.items() if sh}
    rows = dq.NUM_MINHASHES // dq.LSH_BANDS
    buckets: dict[tuple, list[int]] = {}
    for d, h in sig.items():
        for b in range(dq.LSH_BANDS):
            buckets.setdefault((b, _md5("|".join(h[b * rows:(b + 1) * rows]))), []).append(d)
    cand = {
        (a, b) for ds in buckets.values() for a in ds for b in ds if a < b
    }
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            x = parent[x]
        return x

    dup_pairs = 0
    for a, b in cand:
        i = len(sets[a] & sets[b])
        if i / (len(sets[a]) + len(sets[b]) - i) >= dq.JACCARD_MIN:
            dup_pairs += 1
            ra, rb = find(a), find(b)
            parent[max(ra, rb)] = min(ra, rb)
    survivors = [d for d in clean if find(d) == d]

    source = dict(zip(ids, docs["source"]))
    out = []
    fill = {g: (-1, 0) for g in range(8)}  # group -> (bin_idx, fill)
    for d in sorted(survivors):
        w = 0.25 if int(re.search(r"(\d+)", source[d]).group(1)) % 2 == 0 else 0.9
        if _md5(f"mix:{d}")[:8] >= f"{int(w * 4294967296):08x}":
            continue
        n = len(toks[d])
        b, f = fill[d % 8]
        b, f = (b + 1, n) if b < 0 or f + n > 256 else (b, f + n)
        fill[d % 8] = (b, f)
        out.append((d % 8, b, d, n, f))
    if stats is not None:
        stats.update({
            "gated": len(gated), "decontaminated": len(clean),
            "lsh_candidates": len(cand), "dup_pairs": dup_pairs,
            "survivors": len(survivors), "output_rows": len(out),
        })
    return out


class CorpusCurate(Workload):
    name = "corpus_curate"
    item = "input document curated (curate_corpus)"

    def generate(self):
        n = self.sizes["docs"]
        r = self.rng
        texts = [" ".join(r.choice(_WORDS) for _ in range(r.randint(10, 99))) for _ in range(n)]
        for i in sorted(r.sample(range(n), n // 20)):
            j = r.randrange(n - 1)
            texts[i] = texts[j + (j >= i)] + " dup"
        table = pd.DataFrame({
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": r.choices(_LANGS, _LANG_WEIGHTS, k=n),
            "source": [f"src{i % 20}" for i in range(n)],
        })
        table["n_chars"] = table["text"].str.len().astype(np.int64)
        self.path = os.path.join(self.work, "documents.parquet")
        pq.write_table(pa.Table.from_pandas(table, preserve_index=False), self.path)
        steps: dict = {}
        self.expected = self._norm(curate_reference(table, steps))
        self.info = {"documents": n, "dup_copies": n // 20, **steps}

    @staticmethod
    def _norm(rows) -> list[tuple]:
        return sorted(
            (int(g), int(b), int(d), int(n), round(float(f), 6)) for g, b, d, n, f in rows
        )

    def op(self, k):
        from pyspark.sql import functions as F

        from ontoemma_spark.operators.curation import curate_corpus
        from ontoemma_spark.plans import demo_queries as dq

        docs = self.spark.read.parquet(self.path)
        bench = docs.filter(F.col("doc_id") % 50 == 0)
        weights = docs.select("source").distinct().select(
            "source",
            F.when(F.regexp_extract("source", r"(\d+)", 1).cast("int") % 2 == 0, 0.25)
            .otherwise(0.9).alias("weight"),
        )
        out = curate_corpus(
            docs, bench, weights, max_tokens=256, shingle_w=dq.SHINGLE_W,
            num_hashes=dq.NUM_MINHASHES, bands=dq.LSH_BANDS, min_jaccard=dq.JACCARD_MIN,
            n_pack_groups=8, pack_groups_by_mod=True,
        )
        rows = [tuple(r) for r in out.select("grp", "bin_idx", "doc_id", "n_tokens", "bin_fill").collect()]
        return self.info["documents"], Output(rows=rows)

    def trace_counts(self, out):
        return {"dedup_documents": self.info["documents"]}

    def check(self, k, out):
        got = self._norm(out.rows)
        if got != self.expected:
            return f"curated rows {len(got)} != DuckDB twin {len(self.expected)} (or differ)"
        return None


# ---------------------------------------------------------------- kg_rank


def rank_graph(e) -> list[tuple]:
    """pagerank(5), hits(5), label_propagation(4) on the symmetrized
    graph and strongly_connected_components over a directed (src, dst)
    edge DataFrame, each collected; one tagged row per (op, node)."""
    from pyspark.sql import functions as F

    from ontoemma_spark.operators.components import strongly_connected_components
    from ontoemma_spark.operators.graph import hits, label_propagation, pagerank

    sym = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    rows = [("pr", r["node"], r["rank"]) for r in pagerank(e, 5).collect()]
    rows += [("hits", r["node"], r["authority"], r["hub"]) for r in hits(e, 5).collect()]
    rows += [("lpa", r["node"], r["label"]) for r in label_propagation(sym, 4).collect()]
    rows += [("scc", r["node"], r["component"]) for r in strongly_connected_components(e).collect()]
    return rows


def _scc_min_labels(nodes: list[str], pairs: set[tuple[str, str]]) -> dict[str, str]:
    """Kosaraju, iterative: node -> min node id of its SCC."""
    adj: dict[str, list[str]] = {v: [] for v in nodes}
    radj: dict[str, list[str]] = {v: [] for v in nodes}
    for a, b in pairs:
        adj[a].append(b)
        radj[b].append(a)
    order, seen = [], set()
    for s in nodes:
        if s in seen:
            continue
        seen.add(s)
        stack = [(s, iter(adj[s]))]
        while stack:
            v, it = stack[-1]
            for w in it:
                if w not in seen:
                    seen.add(w)
                    stack.append((w, iter(adj[w])))
                    break
            else:
                stack.pop()
                order.append(v)
    comp: dict[str, str] = {}
    for s in reversed(order):
        if s in comp:
            continue
        members, stack = [s], [s]
        comp[s] = s
        while stack:
            for w in radj[stack.pop()]:
                if w not in comp:
                    comp[w] = s
                    members.append(w)
                    stack.append(w)
        low = min(members)
        for v in members:
            comp[v] = low
    return comp


def graph_reference(pairs) -> dict[str, dict]:
    """numpy power iterations, pandas LPA and Kosaraju SCC over the
    distinct edges: what rank_graph must return."""
    pairs = set(pairs)
    nodes = sorted({x for p in pairs for x in p})
    idx = {v: i for i, v in enumerate(nodes)}
    src = np.array([idx[a] for a, _ in pairs])
    dst = np.array([idx[b] for _, b in pairs])
    n = len(nodes)
    deg = np.bincount(src, minlength=n).astype(float)
    rank = np.full(n, 1.0 / n)
    for _ in range(5):
        rank = (1 - 0.85) / n + 0.85 * np.bincount(dst, weights=rank[src] / deg[src], minlength=n)
    hub = np.ones(n)
    for _ in range(5):
        auth = np.bincount(dst, weights=hub[src], minlength=n)
        hub = np.bincount(src, weights=auth[dst], minlength=n)
    sym = pd.DataFrame(list(pairs | {(b, a) for a, b in pairs}), columns=["src", "dst"])
    own = pd.Series(nodes, index=nodes)
    labels = own
    for _ in range(4):
        votes = sym.assign(label=labels.reindex(sym["src"]).values)
        cnt = votes.groupby(["dst", "label"]).size().rename("cnt").reset_index()
        cnt = cnt.sort_values(["dst", "cnt", "label"], ascending=[True, False, True])
        labels = cnt.drop_duplicates("dst").set_index("dst")["label"].reindex(nodes).fillna(own)
    return {
        "pr": dict(zip(nodes, rank)),
        "auth": dict(zip(nodes, auth / auth.sum())),
        "hub": dict(zip(nodes, hub / hub.sum())),
        "lpa": dict(labels.items()),
        "scc": _scc_min_labels(nodes, pairs),
    }


def check_graph(rows: list[tuple], ref: dict[str, dict],
                kinds: tuple[str, ...] = ("pr", "hits", "lpa", "scc")) -> str | None:
    n = len(ref["pr"])
    by: dict[str, list] = {k: [] for k in ("pr", "hits", "lpa", "scc")}
    for r in rows:
        by[r[0]].append(r)
    for kind in kinds:
        if len(by[kind]) != n or len({r[1] for r in by[kind]}) != n:
            return f"{kind}: {len(by[kind])} rows for {n} nodes"
    if any(abs(rk - ref["pr"][v]) > 1e-9 for _, v, rk in by["pr"]):
        return "pagerank differs from the numpy power iteration by > 1e-9"
    if any(abs(a - ref["auth"][v]) > 1e-9 or abs(h - ref["hub"][v]) > 1e-9
           for _, v, a, h in by["hits"]):
        return "hits differs from the numpy power iteration by > 1e-9"
    if any(lab != ref["lpa"][v] for _, v, lab in by["lpa"]):
        return "label_propagation differs from the reference"
    if any(c != ref["scc"][v] for _, v, c in by["scc"]):
        return "strongly_connected_components differs from the reference"
    return None


class KGRank(Workload):
    name = "kg_rank"
    item = "edge processed per ranking op (edges x 4 ops)"

    def generate(self):
        s = self.sizes
        r = self.rng
        n, m = s["nodes"], s["out_degree"]
        edges: set[tuple[int, int]] = set()
        targets: list[int] = [0]  # preferential attachment: endpoint multiset
        for v in range(1, n):
            for _ in range(min(m, v)):
                u = targets[r.randrange(len(targets))]
                edges.add((v, u))  # new -> old: the DAG part has no cycle
                targets.append(u)
            targets.append(v)
        ids = [f"v{i:07d}" for i in range(n)]
        pairs = [(ids[a], ids[b]) for a, b in edges]
        planted = {v: v for v in ids}
        for f in range(s["farms"]):
            members = [f"f{f:03d}_{j:03d}" for j in range(s["farm_size"])]
            for j, a in enumerate(members):  # a planted cycle + chords
                planted[a] = members[0]
                pairs.append((a, members[(j + 1) % len(members)]))
                pairs.append((a, members[(j + 3) % len(members)]))
                pairs.append((a, ids[r.randrange(n)]))  # farm -> DAG only
        pairs = sorted(set(pairs))
        self.path = os.path.join(self.work, "edges.parquet")
        src, dst = zip(*pairs)
        pq.write_table(pa.table({"src": list(src), "dst": list(dst)}), self.path)
        self.ref = graph_reference(pairs)
        if self.ref["scc"] != planted:
            raise RuntimeError("generator bug: SCCs other than the planted farms")
        self.info = {
            "nodes": len(planted), "edges": len(pairs),
            "planted_sccs": s["farms"], "farm_size": s["farm_size"],
        }

    def op(self, k):
        e = self.spark.read.parquet(self.path)
        return 4 * self.info["edges"], Output(rows=rank_graph(e))

    def check(self, k, out):
        return check_graph(out.rows, self.ref)


WORKLOADS = {w.name: w for w in (CrawlKG, KBAlign, CorpusCurate, KGRank)}
