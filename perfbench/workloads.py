"""The benchmark's workloads: seeded input generation and one pass each.

A pass calls the engine's public functions only.  `probe.span(name)`
brackets each call into a module and `probe.boundary(df)` marks the
module's output; both do nothing in an untraced run (see run.py).  A
pass returns {output name: sha256 digest}; digests are taken after the
pass's clock stops.
"""

from __future__ import annotations

import hashlib
import shutil
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

HERE = Path(__file__).resolve().parent
DATA = HERE / "data"    # the sf0.01 test tables; seed 0 uses them as-is


class GuardError(RuntimeError):
    """The workload left the path it was chosen to measure."""


def guard(ok: bool, msg: str) -> None:
    if not ok:
        raise GuardError(msg)


def _canon(v) -> str:
    """Full-precision text of a cell; arrays print every element."""
    if isinstance(v, np.ndarray):
        v = v.tolist()
    return repr(v) if isinstance(v, (list, tuple, float)) else str(v)


def digest_frame(pdf: pd.DataFrame, sort_by: list[str] | None = None) -> str:
    """sha256 of a frame's CSV after a total row order.  Without `sort_by`
    every cell is compared as text, which orders any column type."""
    if sort_by is None:
        pdf = pdf.apply(lambda col: col.map(_canon))
    keys = list(pdf.columns) if sort_by is None else sort_by
    pdf = pdf.sort_values(keys, kind="stable").reset_index(drop=True)
    return hashlib.sha256(pdf.to_csv(index=False).encode()).hexdigest()


def make_inputs(wl, seed: int, scratch: Path) -> Path:
    """The workload's inputs for `seed`, generated once per (workload,
    size parameters, seed).  Generation writes into a temporary sibling
    and renames it, so an interrupted run never leaves a half-written
    input behind."""
    params = hashlib.sha256(repr(wl.params()).encode()).hexdigest()[:8]
    out = scratch / f"{wl.name}-{wl.size}-{params}-s{seed}"
    if out.exists():
        return out
    tmp = out.with_name(out.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    wl.write_inputs(seed, tmp)
    tmp.rename(out)
    return out


CHECK = "check:"     # digest keys holding an oracle verdict, "ok" or why not


def frame_digests(outs: dict) -> dict:
    """A digest and a row count per collected output frame."""
    d = {name: digest_frame(pdf) for name, pdf in outs.items()}
    d.update({f"n:{name}": str(len(pdf)) for name, pdf in outs.items()})
    return d


# ---------------------------------------------------------------------------
# geo_zipf_staged: the production path of engine/submit.py
# ---------------------------------------------------------------------------

class GeoZipfStaged:
    """Zipf(1.2) web_pages corpus -> geopoints -> locations -> episodes
    through catalog.run_bucketed_stage, then the salted tile pyramid,
    written as submit.py writes it.  Each pass starts from an empty
    workdir."""

    name = "geo_zipf_staged"
    sizes = {"full": dict(n_hosts=200, total_pages=40_000, splits=8,
                          buckets=4),
             "tiny": dict(n_hosts=6, total_pages=1_500, splits=2,
                          buckets=2)}

    def __init__(self, size: str):
        self.size = size
        self.p = self.sizes[size]

    def params(self) -> dict:
        return self.p

    def write_inputs(self, seed: int, tmp: Path) -> None:
        from engine.datagen import gen_web_pages
        p = self.p
        pages, _, _ = gen_web_pages(n_hosts=p["n_hosts"],
                                    total_pages=p["total_pages"], seed=seed)
        table = pa.Table.from_pandas(pages, preserve_index=False).cast(
            pa.schema([("url", pa.string()),
                       ("warc_ts", pa.timestamp("us", tz="UTC")),
                       ("html", pa.binary()), ("text", pa.string()),
                       ("lang", pa.string())]))
        rows = table.num_rows
        step = -(-rows // p["splits"])
        corpus = tmp / "corpus"
        corpus.mkdir()
        for i in range(p["splits"]):
            pq.write_table(table.slice(i * step, step),
                           corpus / f"part-{i:05d}.parquet")
        (tmp / "rows").write_text(str(rows))

    def load(self, spark, src: Path) -> dict:
        corpus = spark.read.parquet(str(src / "corpus"))
        rows = corpus.count()
        guard(rows == int((src / "rows").read_text()),
              f"corpus holds {rows} rows, sizing says "
              f"{(src / 'rows').read_text()}")
        in_bytes = sum(f.stat().st_size for f in (src / "corpus").iterdir())
        return {"src": src, "rows": rows, "in_bytes": in_bytes}

    def run_pass(self, spark, probe, inp: dict, workdir: Path) -> dict:
        from pyspark.sql import functions as F

        from engine import catalog, tiles, trace_prep
        from engine import episodes as ep
        from engine import locations as loc
        from engine.config import DEFAULT
        from engine.functions import host_from_url

        guard(not workdir.exists(),
              f"{workdir} exists: resume would skip the pass's work")
        nb = self.p["buckets"]
        corpus = str(inp["src"] / "corpus")
        strategies = []

        def module(name, build):
            with probe.span(name):
                return probe.boundary(build())

        def episodes_stage(gp):
            locs = catalog.read_table(spark, workdir / "locations")
            assigned = ep.knn_assign_auto(gp, locs, DEFAULT)
            strategies.append(assigned.knn_strategy)
            return ep.build_episodes(assigned, DEFAULT)

        with probe.span("catalog"):
            catalog.run_bucketed_stage(
                spark, "geopoints", corpus, workdir / "geopoints",
                lambda pages: module("trace_prep", lambda: (
                    trace_prep.geopoints(pages, DEFAULT))),
                n_buckets=nb, key_expr=host_from_url(F.col("url")))
        with probe.span("catalog"):
            # no point-count hint, as in submit.py: the chunk-parallel KDE
            catalog.run_bucketed_stage(
                spark, "locations", workdir / "geopoints",
                workdir / "locations",
                lambda gp: module("locations", lambda: (
                    loc.detect_locations(gp, DEFAULT))),
                n_buckets=nb)
        with probe.span("catalog"):
            catalog.run_bucketed_stage(
                spark, "episodes", workdir / "geopoints",
                workdir / "episodes",
                lambda gp: module("episodes", lambda: episodes_stage(gp)),
                n_buckets=nb)
        pyr = module("tiles", lambda: tiles.rollup_pyramid(
            tiles.cell_density(trace_prep.interpolate_sites(
                catalog.read_table(spark, workdir / "geopoints"), DEFAULT),
                DEFAULT, salted=True), DEFAULT))
        with probe.span("catalog"):
            pyr.write.mode("overwrite").partitionBy("level").parquet(
                str(workdir / "tiles"))
        guard(strategies and set(strategies) == {"collected"},
              f"knn strategy {strategies}, expected the collected index")
        return {"strategies": strategies}

    def tables(self, spark, workdir: Path) -> tuple:
        """Checks that every bucket of every stage was committed, then
        collects the written episodes, locations and tile pyramid."""
        from pyspark.sql import functions as F

        from engine import catalog
        for stage in ("geopoints", "locations", "episodes"):
            man = catalog.Manifest(workdir / stage)
            done = man.committed()
            guard(len(done) == self.p["buckets"],
                  f"{stage}: {len(done)} of {self.p['buckets']} buckets "
                  "committed")
        eps = (catalog.read_table(spark, workdir / "episodes")
               .select("host", "seq", F.col("start_ts").cast("string"),
                       F.col("end_ts").cast("string"), "kind",
                       F.col("location_id").cast("string"))
               .toPandas().sort_values(["host", "seq"]))
        locs = catalog.read_table(spark, workdir / "locations").drop(
            "host_bucket").toPandas()
        pyr = spark.read.parquet(str(workdir / "tiles")).select(
            "level", "cell_id", "mass_s").toPandas()
        return eps, locs, pyr

    @staticmethod
    def invariants(eps: pd.DataFrame, locs: pd.DataFrame,
                   pyr: pd.DataFrame) -> str:
        """What must hold of the outputs at any seed: each host's episodes
        are numbered 0..n-1 and tile its timeline without gap or overlap,
        exactly the activity episodes point at one of their host's
        locations, and every pyramid level carries the same total mass.
        Returns "ok" or what failed."""
        eps = eps.sort_values(["host", "seq"]).reset_index(drop=True)
        start, end = pd.to_datetime(eps["start_ts"]), pd.to_datetime(
            eps["end_ts"])
        same_host = eps["host"].eq(eps["host"].shift(-1))
        known = set(zip(locs["host"], locs["location_id"].astype(str)))
        has_loc = eps["location_id"].notna()
        mass = pyr.groupby("level")["mass_s"].sum()
        failed = [why for bad, why in (
            ((eps.groupby("host").cumcount() != eps["seq"]).any(),
             "episode seq is not 0..n-1 per host"),
            ((start > end).any(), "an episode ends before it starts"),
            ((same_host & (start.shift(-1) != end)).any(),
             "a host's episodes leave a gap or overlap"),
            (((eps["kind"] == "activity") != has_loc).any(),
             "location_id set on other than the activity episodes"),
            (not set(zip(eps["host"][has_loc], eps["location_id"][has_loc]))
             <= known, "an episode names an unknown location"),
            (len(mass) == 0 or not np.allclose(mass, mass.iloc[0],
                                               rtol=1e-9, atol=0.0),
             "pyramid levels carry different total mass"),
        ) if bad]
        return "; ".join(failed) or "ok"

    def digests(self, spark, inp: dict, workdir: Path, _outs: dict) -> dict:
        eps, locs, pyr = self.tables(spark, workdir)
        return {
            CHECK + "invariants": self.invariants(eps, locs, pyr),
            # tools/scaling_bench.py's episode digest
            "episodes": hashlib.sha256(
                eps.to_csv(index=False).encode()).hexdigest(),
            "locations": digest_frame(locs),
            "tiles": digest_frame(pyr, ["level", "cell_id"]),
            "n_episodes": str(len(eps)), "n_locations": str(len(locs)),
            "n_tiles": str(len(pyr)),
        }

    def written(self, workdir: Path) -> tuple[int, int]:
        files = [f for f in workdir.rglob("*") if f.is_file()]
        return sum(f.stat().st_size for f in files), sum(
            1 for f in files if f.suffix == ".parquet")


# ---------------------------------------------------------------------------
# spatial_joins: the six declared cell-candidate-join / CC queries
# ---------------------------------------------------------------------------

_EVENT_SHIFT = 1_000_003   # per seed step; prime, so the lattice moves
# Seeds wrap after this many steps, so shifted ids stay below 2^31.  The
# declared queries derive lattice points as event_id * 48271 in BIGINT,
# which overflows (and raises under ANSI mode) once ids pass ~1.9e14.
# The points depend only on event_id mod 126,000, to which 1,000,003 is
# coprime, so the wrapped steps still give 1,000 distinct layouts.
_EVENT_STEPS = 1_000


def _events_table(seed: int, n_rows: int | None) -> pa.Table:
    """The sf0.01 events table with user_id and event_id shifted by a
    seed-derived offset (seeds that are multiples of _EVENT_STEPS, 0
    among them: unchanged).  The derived lattice points move, the timing
    shape stays."""
    t = pq.read_table(DATA / "events.parquet")
    if n_rows is not None:
        t = t.slice(0, n_rows)
    off = seed % _EVENT_STEPS * _EVENT_SHIFT
    if off == 0:
        return t
    for col in ("event_id", "user_id"):
        i = t.schema.get_field_index(col)
        t = t.set_column(i, col, pa.array(
            t.column(col).to_numpy() + off, pa.int64()))
    return t


class SpatialJoins:
    """ops.radius_join_2d, ops.knn_join_2d, ops.geo_radius_join,
    clustering.dbscan_geo, clustering.st_dbscan, spatial.snap_to_segments,
    each built exactly as its declared query in __spark_entry__.py."""

    name = "spatial_joins"
    sizes = {"full": dict(events=None, suppliers=100),
             "tiny": dict(events=2_000, suppliers=20)}
    ops = (("ops.radius_join_2d", "q_radius_join_2d"),
           ("ops.knn_join_2d", "q_knn_join_2d"),
           ("ops.geo_radius_join", "q_geo_radius_join"),
           ("clustering.dbscan_geo", "q_dbscan_geo"),
           ("clustering.st_dbscan", "q_st_dbscan"),
           ("spatial.snap_to_segments", "q_snap_segments"))

    def __init__(self, size: str):
        self.size = size
        self.p = self.sizes[size]

    def params(self) -> dict:
        return self.p

    def write_inputs(self, seed: int, tmp: Path) -> None:
        pq.write_table(_events_table(seed, self.p["events"]),
                       tmp / "events.parquet")
        pq.write_table(pa.table({"s_suppkey": pa.array(
            np.arange(self.p["suppliers"]), pa.int64())}),
            tmp / "supplier.parquet")

    def load(self, spark, src: Path) -> dict:
        import __spark_entry__ as entry
        rows = spark.read.parquet(str(src / "events.parquet")).count()
        want = self.p["events"] or pq.read_metadata(
            DATA / "events.parquet").num_rows
        guard(rows == want, f"events: {rows} rows, sizing says {want}")
        return {"src": src, "rows": rows, "entry": entry}

    def radius_oracle(self, inp: dict, pairs: pd.DataFrame) -> str:
        """Brute-force radius_join_2d over the seed's events: every
        same-type pair with a_id < b_id and dx² + dy² <= r², from the
        declared query's lattice formulas.  Works for any seed."""
        ev = pq.read_table(inp["src"] / "events.parquet",
                           columns=["event_id", "event_type"]).to_pandas()
        r2 = inp["entry"]._RADIUS_R ** 2
        want = set()
        for _, g in ev.groupby("event_type"):
            e = g["event_id"].to_numpy(np.int64)
            x, y = (e * 48271 + 11) % 1000, (e * 16807 + 523) % 1000
            for i in range(0, len(e), 512):
                d2 = ((x[i:i + 512, None] - x[None, :]) ** 2
                      + (y[i:i + 512, None] - y[None, :]) ** 2)
                a, b = np.nonzero(d2 <= r2)
                a, b = e[i:i + 512][a], e[b]
                want.update(zip(a[a < b].tolist(), b[a < b].tolist()))
        got = set(zip(pairs["a_id"].tolist(), pairs["b_id"].tolist()))
        return "ok" if got == want and len(got) == len(pairs) else \
            f"{len(got)} pairs, brute force finds {len(want)}"

    def run_pass(self, spark, probe, inp: dict, workdir: Path) -> dict:
        outs = {}
        for name, query in self.ops:
            build = getattr(inp["entry"], query)
            with probe.span(name):
                df = probe.boundary(build(spark, str(inp["src"])))
            outs[name] = df.toPandas()
        return outs



# ---------------------------------------------------------------------------
# curation: the text / similarity / clustering / tokenizer / classifier ops
# ---------------------------------------------------------------------------

def _documents_table(seed: int, n_rows: int | None) -> pa.Table:
    """The sf0.01 documents table with the vocabulary permuted by a
    seed-derived bijection (seed 0: unchanged).  Sizes, document lengths
    in words, the vocabulary and the near-duplicate structure are kept;
    the `dup` marker word stays fixed."""
    t = pq.read_table(DATA / "documents.parquet")
    if n_rows is not None:
        t = t.slice(0, n_rows)
    if seed == 0:
        return t
    texts = t.column("text").to_pylist()
    vocab = sorted({w for s in texts for w in s.split(" ")} - {"dup"})
    perm = np.random.default_rng([seed, 1]).permutation(len(vocab))
    swap = {w: vocab[j] for w, j in zip(vocab, perm)}
    swap["dup"] = "dup"
    new = [" ".join(swap[w] for w in s.split(" ")) for s in texts]
    t = t.set_column(t.schema.get_field_index("text"), "text",
                     pa.array(new, pa.string()))
    return t.set_column(t.schema.get_field_index("n_chars"), "n_chars",
                        pa.array([len(s) for s in new], pa.int64()))


def _embeddings_table(seed: int, n_rows: int | None) -> pa.Table:
    """The sf0.01 embeddings table under a seed-derived random rotation
    (seed 0: unchanged): every cosine similarity is kept, the LSH and
    codebook assignments change."""
    t = pq.read_table(DATA / "embeddings.parquet")
    if n_rows is not None:
        t = t.slice(0, n_rows)
    if seed == 0:
        return t
    v = np.stack(t.column("embedding").to_numpy(zero_copy_only=False))
    g = np.random.default_rng([seed, 2]).standard_normal((v.shape[1],) * 2)
    q, _ = np.linalg.qr(g)
    rot = (v.astype(np.float64) @ q).astype(np.float32)
    return t.set_column(t.schema.get_field_index("embedding"), "embedding",
                        pa.array(list(rot), t.schema.field("embedding").type))


class Curation:
    """Dedup, fuzzy pairs, decontamination, two ANN top-k searches,
    k-means, BPE train + encode and the quality classifier, with the
    parameters of bench.py's stages."""

    name = "curation"
    sizes = {"full": dict(docs=None, emb=None),
             "tiny": dict(docs=100, emb=200)}
    modules = ("text.dedup_minhash", "text.fuzzy_pairs",
               "text.decontaminate_bloom", "similarity.ann_cosine_topk",
               "similarity.ivfpq_topk", "clustering.kmeans_lloyd",
               "tokenizer.bpe", "classifier.quality")

    def __init__(self, size: str):
        self.size = size
        self.p = self.sizes[size]

    def params(self) -> dict:
        return self.p

    def write_inputs(self, seed: int, tmp: Path) -> None:
        pq.write_table(_documents_table(seed, self.p["docs"]),
                       tmp / "documents.parquet")
        pq.write_table(_embeddings_table(seed, self.p["emb"]),
                       tmp / "embeddings.parquet")

    def load(self, spark, src: Path) -> dict:
        # bench.py's layout: the one-file tables fanned out to 2x cores
        n_split = max(2 * int(spark.sparkContext.defaultParallelism), 2)
        docs = spark.read.parquet(str(src / "documents.parquet"))
        emb = spark.read.parquet(str(src / "embeddings.parquet"))
        n_docs, n_emb = docs.count(), emb.count()
        for table, got, want in (("documents", n_docs, self.p["docs"]),
                                 ("embeddings", n_emb, self.p["emb"])):
            want = want or pq.read_metadata(
                DATA / f"{table}.parquet").num_rows
            guard(got == want, f"{table}: {got} rows, sizing says {want}")
        return {"docs": docs.repartition(n_split),
                "emb": emb.repartition(n_split), "rows": n_docs + n_emb}

    def run_pass(self, spark, probe, inp: dict, workdir: Path) -> dict:
        from pyspark.sql import functions as F

        from engine import clustering, similarity, text
        from engine.classifier import (apply_classifier,
                                       train_quality_classifier)
        from engine.tokenizer import bpe_encode, bpe_train
        docs, emb = inp["docs"], inp["emb"]
        outs = {}

        def op(name, build):
            with probe.span(name):
                df = probe.boundary(build())
            outs[name] = df.toPandas()

        op("text.dedup_minhash",
           lambda: text.dedup_minhash(docs, threshold=0.5))
        titles = docs.select("doc_id",
                             F.substring("text", 1, 16).alias("title"))
        op("text.fuzzy_pairs",
           lambda: text.fuzzy_pairs(titles, text_col="title", max_dist=2))
        op("text.decontaminate_bloom", lambda: text.decontaminate_bloom(
            docs, docs.filter(F.col("doc_id") % 13 == 0), n=3))
        op("similarity.ann_cosine_topk", lambda: similarity.ann_cosine_topk(
            emb, k=5, dim=64, bits=12, bands=6))
        op("similarity.ivfpq_topk", lambda: similarity.ivfpq_topk(
            emb, emb.filter(F.col("vec_id") % 100 == 0), k=5, n_cells=32,
            nprobe=8, m=4, n_codes=16, dim=64))
        op("clustering.kmeans_lloyd",
           lambda: clustering.kmeans_lloyd(emb, k=8, iters=4))

        def bpe():
            merges, _ = bpe_train(docs, rounds=8)
            outs["tokenizer.bpe_merges"] = pd.DataFrame(
                {"merge": [str(m) for m in merges]})
            return bpe_encode(docs, merges)
        op("tokenizer.bpe", bpe)

        feats = []

        def classifier():
            label = F.array_contains(text.tokens_col(F.col("text")),
                                     F.lit("spark"))
            wq, f = train_quality_classifier(docs, label)
            feats.append(f)
            return apply_classifier(f, wq)
        op("classifier.quality", classifier)
        for f in feats:
            f.unpersist()
        return outs


class Operators:
    """spatial_joins then curation in one pass, over one input directory.
    Two one-purpose workloads would each pay a JVM start and a warm-up
    pass per run; together they fit the run budget."""

    name = "operators"

    def __init__(self, size: str):
        self.size = size
        self.parts = (SpatialJoins(size), Curation(size))

    def params(self) -> dict:
        return {part.name: part.params() for part in self.parts}

    def write_inputs(self, seed: int, tmp: Path) -> None:
        for part in self.parts:
            part.write_inputs(seed, tmp)

    def load(self, spark, src: Path) -> dict:
        inp = {part.name: part.load(spark, src) for part in self.parts}
        inp["rows"] = sum(inp[part.name]["rows"] for part in self.parts)
        return inp

    def run_pass(self, spark, probe, inp: dict, workdir: Path) -> dict:
        outs = {}
        for part in self.parts:
            outs.update(part.run_pass(spark, probe, inp[part.name], workdir))
        return outs

    def digests(self, spark, inp: dict, workdir: Path, outs: dict) -> dict:
        spatial = self.parts[0]
        return {**frame_digests(outs), CHECK + "ops.radius_join_2d":
                spatial.radius_oracle(inp[spatial.name],
                                      outs["ops.radius_join_2d"])}


WORKLOADS = {w.name: w for w in (GeoZipfStaged, Operators)}
