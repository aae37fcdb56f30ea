"""The benchmark's workloads: seeded inputs, an independent oracle, the
timed pass and the traced pass of each.

Every workload reaches the engine only through its public entry points
(``plans.pipeline``, ``operators.images``, ``operators.dedup``,
``sources.table``). Inputs are a pure function of the seed; the oracle
is computed once per seed, outside every timed region, by code that
shares no Spark path with the engine (the numpy oracle of the feature
pipeline, DuckDB SQL for dedup, pandas for the table state).
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

PIT_KEYS = ["entity", "anchor_ts", "name", "strand"]
STAT_COLS = ["pixel_mean", "pixel_std", "r_mean", "g_mean", "b_mean"]


def _write(df: pd.DataFrame, path: str, **kw) -> None:
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path, **kw)


def _read(path: str) -> pd.DataFrame:
    return pq.read_table(path).to_pandas()


def _mismatch(got: pd.DataFrame, exp: pd.DataFrame, keys: list[str],
              cols: list[str], what: str, exact: bool) -> list[str]:
    """Compare two frames row-for-row after sorting on ``keys``."""
    if len(got) != len(exp):
        return [f"{what}: {len(got)} rows, expected {len(exp)}"]
    got = got.sort_values(keys, ignore_index=True)
    exp = exp.sort_values(keys, ignore_index=True)
    bad = []
    for c in keys + cols:
        g, e = got[c], exp[c]
        if exact or g.dtype == object or e.dtype == object:
            same = (g.astype(str).to_numpy() == e.astype(str).to_numpy()).all()
        else:
            same = np.allclose(g.astype(float), e.astype(float),
                               rtol=1e-9, atol=1e-12, equal_nan=True)
        if not same:
            bad.append(f"{what}.{c} differs from the oracle")
    return bad


# ------------------------------------------------------------- features


def _gradient(a: int, b: int, w: int, h: int) -> np.ndarray:
    idx = np.arange(h * w * 3, dtype=np.int64)
    return ((a + idx * (b % 97 + 1) + (idx % 3) * 31) % 256).astype(np.uint8).reshape(h, w, 3)


class Features:
    """The flagship ``extract_features(persist_features=True)`` pipeline.

    With ``decode`` the events carry PNG / fake-lossy payloads and the
    Arrow pixel-decode UDF does most of the work; without it the events
    are pre-decoded slim rows (``value_col="duration"``) and the window,
    as-of and interval-join layers carry all of it."""

    def __init__(self, name: str, decode: bool, n_events: int,
                 n_entities: int, anchors_per_entity: int, pool: int = 2048):
        from lbf_spark.plans import pipeline as P

        self.name = name
        self.decode = decode
        self.n_events = n_events
        self.n_entities = n_entities
        self.anchors_per_entity = anchors_per_entity
        self.pool = pool
        self.cfg = P.FeatureConfig(value_col="pixel_mean" if decode else "duration")
        self.layers = (("images.decode",) if decode else ()) + (
            "windows.features", "asof.pit", "asof.matrix", "pipeline.summary")

    def size_key(self) -> str:
        return f"{self.n_events}x{self.n_entities}x{self.anchors_per_entity}"

    def generate(self, seed: int, d: str) -> dict:
        from lbf_spark import fixtures, oracle
        from lbf_spark.functions.codec import encode_image

        ev = fixtures.generate_events(
            self.n_events, self.n_entities, seed=seed, with_payload=False)
        slim = ev.drop(columns=["bytes"])
        if self.decode:
            # Payloads come from a pool of distinct 32x32-dominant images
            # that is the same for every seed, so the decode work does not
            # vary with the seed; the seed picks each row's image. The
            # oracle decodes each distinct image once instead of per row.
            prng = np.random.default_rng(0)
            sizes = np.array([8, 16, 32], dtype=np.int32)
            w = prng.choice(sizes, self.pool, p=[0.1, 0.2, 0.7])
            h = prng.choice(sizes, self.pool, p=[0.1, 0.2, 0.7])
            fmt = np.where(prng.random(self.pool) < 0.9, "png", "jpeg")
            # smooth gradients compress like real images (noise would
            # not), so payload bytes per pixel stay realistic
            a, b = prng.integers(1, 1 << 20, (2, self.pool))
            pool = [
                encode_image(_gradient(int(aa), int(bb), ww, hh), f)
                for aa, bb, ww, hh, f in zip(a, b, w, h, fmt)
            ]
            pick = np.random.default_rng(seed).integers(0, self.pool, len(ev))
            ev["bytes"] = [pool[i] for i in pick]
            ev["w"], ev["h"], ev["fmt"] = w[pick], h[pick], fmt[pick]
            stats = oracle.decode_stats_oracle(
                pd.DataFrame({"bytes": pool, "fmt": fmt}))
            slim = ev.drop(columns=["bytes"])
            for c in STAT_COLS:
                slim[c] = stats[c].to_numpy()[pick]
        else:
            ev = slim
        an = fixtures.generate_anchors(
            ev, n_per_entity=self.anchors_per_entity, seed=seed + 1)
        exp = oracle.extract_features_oracle(slim, an, self.cfg)
        # many row groups: the scan splits across every core
        _write(ev, os.path.join(d, "events.parquet"), row_group_size=5000,
               use_dictionary=False)
        _write(an, os.path.join(d, "anchors.parquet"))
        pit = exp["point_in_time"]
        for c in (self.cfg.value_col, "roll_mean", "roll_count", "phash_drift",
                  "session_id", "ts"):
            pit[c] = pit[c].astype(float)
        _write(pit, os.path.join(d, "exp_pit.parquet"))
        _write(exp["vectors"], os.path.join(d, "exp_vectors.parquet"))
        return {"rows": len(ev)}

    def load(self, spark, d: str) -> dict:
        return {
            "events": spark.read.parquet(os.path.join(d, "events.parquet")),
            "anchors": spark.read.parquet(os.path.join(d, "anchors.parquet")),
            "exp_pit": _read(os.path.join(d, "exp_pit.parquet")),
            "exp_vectors": _read(os.path.join(d, "exp_vectors.parquet")),
        }

    def run(self, spark, inp: dict, scratch: str) -> dict:
        from lbf_spark.plans import pipeline as P

        out = P.extract_features(inp["events"], inp["anchors"], self.cfg,
                                 persist_features=True)
        return {"pit": out["point_in_time"].toPandas(),
                "vectors": out["vectors"].toPandas()}

    def traced(self, spark, inp: dict, scratch: str, tr) -> dict:
        """The same pipeline cut at each layer boundary: every layer's
        output is materialized (persist + noop write, or the collect of
        a terminal output) inside the layer's job group."""
        from pyspark import StorageLevel

        from lbf_spark.operators.images import decode_stats
        from lbf_spark.plans import pipeline as P

        def materialize(df):
            df = df.persist(StorageLevel.MEMORY_AND_DISK)
            df.write.format("noop").mode("overwrite").save()
            return df

        cfg, events, anchors = self.cfg, inp["events"], inp["anchors"]
        kept = []
        if self.decode:
            with tr.layer("images.decode") as sp:
                # the parallelism extract_features gives the decode stage
                # on a non-SMT host: one partition per shuffle partition
                n = int(spark.conf.get("spark.sql.shuffle.partitions"))
                n_in = events.rdd.getNumPartitions()
                if n_in < (n * 3) // 4:
                    events = events.repartition(n)
                elif n_in > n:
                    events = events.coalesce(n)
                events = materialize(decode_stats(events))
            sp["rows_out"] = events.count()
            kept.append(events)
        with tr.layer("windows.features") as sp:
            feats = materialize(P.event_features(events, cfg))
        sp["rows_out"] = feats.count()
        kept.append(feats)
        with tr.layer("asof.pit") as sp:
            pit = P.anchor_point_in_time(feats, anchors, cfg).toPandas()
        sp["rows_out"] = len(pit)
        with tr.layer("asof.matrix") as sp:
            matrix = materialize(P.anchor_window_matrix(feats, anchors, cfg))
        sp["rows_out"] = matrix.count()
        kept.append(matrix)
        with tr.layer("pipeline.summary") as sp:
            vectors = P.summary_vectors(P.summarize(matrix, cfg)).toPandas()
        sp["rows_out"] = len(vectors)
        for df in kept:
            df.unpersist()
        return {"pit": pit, "vectors": vectors}

    def check(self, out: dict, inp: dict) -> list[str]:
        cols = [self.cfg.value_col, "roll_mean", "roll_count", "phash_drift",
                "session_id", "ts"]
        bad = _mismatch(out["pit"], inp["exp_pit"], PIT_KEYS, cols,
                        "point_in_time", exact=False)
        got = out["vectors"].sort_values(["entity", "name"], ignore_index=True)
        exp = inp["exp_vectors"].sort_values(["entity", "name"], ignore_index=True)
        if len(got) != len(exp) or (got[["entity", "name"]] != exp[["entity", "name"]]).any(axis=None):
            return bad + ["vectors: keys differ from the oracle"]
        for g, e in zip(got["vector"], exp["vector"]):
            if not np.allclose(np.asarray(g, float), np.asarray(e, float),
                               rtol=1e-9, atol=1e-12):
                return bad + ["vectors: values differ from the oracle"]
        return bad

    def release(self, spark) -> None:
        spark.catalog.clearCache()


# ------------------------------------------------------------- curation

THRESHOLD, NGRAM, HASHES, BANDS = 0.8, 3, 16, 8
TABLE_COLS = ["doc_id", "entity", "ts", "text", "zx", "zy"]
N_BUCKETS, TS_UNIT = 4, 1 << 20
# A copy of the sf0.1 ``documents`` table the query catalog's dedup
# queries run on: 5,000 documents, each 10-100 tokens drawn uniformly
# from a 30-word vocabulary, 250 of them near-duplicates made by
# appending the token "dup" to another document, over 20 sources.
CORPUS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data",
                      "documents.parquet")
CLONE_MARK = " dup"


class Curation:
    """Near-duplicate curation of a crawled corpus, landed in the table.

    The ``jobs/run_dedup.py`` pipeline at its production settings
    (t=0.8, 3-gram shingles, 16 hashes, 8 bands: ``minhash_dedup_pairs``
    → ``dup_clusters`` → keeper join), then the keepers are written as a
    z-ordered bucket×day table, a re-crawl changelog (updates, deletes,
    inserts) is merged into it, and the table is read back through a
    pruned scan and a full scan."""

    name = "curation"
    layers = ("text.shingle", "dedup.lsh", "dedup.verify", "dedup.clusters",
              "dedup.keepers", "table.write", "table.merge", "table.scan")

    def __init__(self, n_base: int | None = None):
        self.n_base = n_base  # originals taken from the corpus; None: all

    def size_key(self) -> str:
        return f"{self.n_base or 'all'}"

    def _docs(self, rng) -> pd.DataFrame:
        """The corpus's originals (a seeded sample of ``n_base`` of them,
        or all), re-cloned by seed in the corpus's own form and at its
        own rate: the seed picks which originals get a clone (the text
        plus " dup") and each clone's source, so the shingle, posting
        and candidate figures stay those of the corpus."""
        corpus = _read(CORPUS)
        is_clone = corpus["text"].str.endswith(CLONE_MARK)
        orig = corpus[~is_clone]
        if self.n_base is not None:
            orig = orig.iloc[np.sort(rng.choice(len(orig), self.n_base, replace=False))]
        n_clones = int(round(len(orig) * is_clone.sum() / (~is_clone).sum()))
        src = rng.integers(0, len(orig), n_clones)
        sources = np.sort(corpus["source"].unique())
        texts = np.concatenate([orig["text"].to_numpy(),
                                orig["text"].to_numpy()[src] + CLONE_MARK])
        entities = np.concatenate([orig["source"].to_numpy(),
                                   rng.choice(sources, n_clones)])
        n = len(texts)
        ts = np.sort(rng.integers(0, 4 * TS_UNIT, n))
        order = rng.permutation(n)  # clones interleave with originals
        return pd.DataFrame({
            "doc_id": np.arange(n, dtype=np.int64),
            "entity": entities[order],
            "ts": ts.astype(np.int64),
            "text": texts[order],
        }).assign(zx=lambda d: (d.ts // (1 << 14)) % 256,
                  zy=lambda d: (d.text.str.len() % 256).astype(np.int64))

    def _changelog(self, rng, docs: pd.DataFrame) -> pd.DataFrame:
        """~5 % of the corpus re-crawled: 40 % updates, 20 % deletes,
        40 % new documents. Keys are drawn from every doc id, so an
        'update' of a document dedup dropped lands as an insert."""
        n = max(3, len(docs) // 20)
        ids = rng.choice(docs["doc_id"].to_numpy(), n, replace=False)
        kind = rng.choice(3, n, p=[0.4, 0.2, 0.4])
        chg = docs.set_index("doc_id").loc[ids].reset_index()
        chg["text"] = chg["text"] + " recrawl"
        chg["zy"] = (chg["text"].str.len() % 256).astype(np.int64)
        new = kind == 2
        chg.loc[new, "doc_id"] = len(docs) + np.arange(int(new.sum()))
        chg["_deleted"] = kind == 1
        return chg[TABLE_COLS + ["_deleted"]]

    def generate(self, seed: int, d: str) -> dict:
        import duckdb

        from lbf_spark.queries import _minhash_oracle_sql

        rng = np.random.default_rng(seed)
        docs = self._docs(rng)
        chg = self._changelog(rng, docs)
        con = duckdb.connect()
        con.register("documents", docs[["doc_id", "text"]])
        # the pairs are materialized first: inlined into the recursive
        # CTE, DuckDB re-evaluates them on every closure step
        con.execute("create temp table pairs as "
                    + _minhash_oracle_sql(HASHES, BANDS, THRESHOLD))
        clusters = con.execute("""
            with recursive
            edges as (
              select id_a as src, id_b as dst from pairs
              union
              select id_b, id_a from pairs
            ),
            reach as (
              select src, dst from edges
              union
              select r.src, e.dst from reach r join edges e on r.dst = e.src
            )
            select src as doc_id, least(src, min(dst)) as cluster_id
            from reach group by src
        """).fetchdf()
        con.close()
        labels = docs[["doc_id"]].merge(clusters, on="doc_id", how="left")
        labels["cluster_id"] = labels["cluster_id"].fillna(labels["doc_id"]).astype(np.int64)
        labels["is_keeper"] = labels["cluster_id"] == labels["doc_id"]
        kept = docs[labels["is_keeper"].to_numpy()][TABLE_COLS]
        merged = pd.concat([
            kept[~kept["doc_id"].isin(chg["doc_id"])],
            chg[~chg["_deleted"]][TABLE_COLS],
        ], ignore_index=True)
        hot = docs["entity"].value_counts().index[0]
        lo, hi = TS_UNIT, 2 * TS_UNIT - 1
        pruned = merged[(merged["entity"] == hot) & merged["ts"].between(lo, hi)]
        _write(docs, os.path.join(d, "documents.parquet"), row_group_size=1000)
        _write(chg, os.path.join(d, "changelog.parquet"))
        _write(labels, os.path.join(d, "exp_labels.parquet"))
        _write(merged, os.path.join(d, "exp_full.parquet"))
        _write(pruned, os.path.join(d, "exp_pruned.parquet"))
        with open(os.path.join(d, "scan.json"), "w") as fh:
            json.dump({"entity": hot, "ts_min": lo, "ts_max": hi,
                       "input_bytes": pa.Table.from_pandas(kept).nbytes}, fh)
        return {"rows": len(docs)}

    def load(self, spark, d: str) -> dict:
        with open(os.path.join(d, "scan.json")) as fh:
            scan = json.load(fh)
        return {
            "docs": spark.read.parquet(os.path.join(d, "documents.parquet")),
            "changes": spark.read.parquet(os.path.join(d, "changelog.parquet")),
            "exp_labels": _read(os.path.join(d, "exp_labels.parquet")),
            "exp_full": _read(os.path.join(d, "exp_full.parquet")),
            "exp_pruned": _read(os.path.join(d, "exp_pruned.parquet")),
            "scan": scan,
        }

    @staticmethod
    def _labels(docs, clusters):
        from pyspark.sql import functions as F

        return (
            docs.select("doc_id").join(clusters, "doc_id", "left")
            .withColumn("cluster_id", F.coalesce("cluster_id", F.col("doc_id")))
            .withColumn("is_keeper", F.col("cluster_id") == F.col("doc_id"))
        )

    @staticmethod
    def _keeper_rows(docs, labels):
        return docs.join(
            labels.filter("is_keeper").select("doc_id"), "doc_id", "left_semi"
        ).select(*TABLE_COLS)

    def _write(self, keepers, path: str) -> dict:
        from lbf_spark.sources import table as TB

        return TB.write_table(keepers, path, mode="overwrite", n_buckets=N_BUCKETS,
                              ts_unit_day=TS_UNIT, layout_cols=["zx", "zy"])

    def _scans(self, spark, path: str, scan: dict) -> tuple[pd.DataFrame, pd.DataFrame]:
        from lbf_spark.sources import table as TB

        pruned = TB.scan(spark, path, entities=[scan["entity"]],
                         ts_min=scan["ts_min"], ts_max=scan["ts_max"],
                         n_buckets=N_BUCKETS, ts_unit_day=TS_UNIT)
        full = TB.scan(spark, path, n_buckets=N_BUCKETS, ts_unit_day=TS_UNIT)
        return (pruned.select(*TABLE_COLS).toPandas(),
                full.select(*TABLE_COLS).toPandas())

    def run(self, spark, inp: dict, scratch: str) -> dict:
        from lbf_spark.operators import dedup as D
        from lbf_spark.sources import table as TB

        docs = inp["docs"]
        pairs = D.minhash_dedup_pairs(docs, n=NGRAM, num_hashes=HASHES,
                                      bands=BANDS, threshold=THRESHOLD)
        labels = self._labels(docs, D.dup_clusters(pairs))
        got_labels = labels.toPandas()
        path = os.path.join(scratch, "table")
        self._write(self._keeper_rows(docs, labels), path)
        D.release_caches()  # every consumer of the labels has run
        TB.merge_upsert(spark, path, inp["changes"], keys=["doc_id"],
                        delete_col="_deleted")
        pruned, full = self._scans(spark, path, inp["scan"])
        return {"labels": got_labels, "pruned": pruned, "full": full}

    def traced(self, spark, inp: dict, scratch: str, tr) -> dict:
        """The same pass cut at each layer boundary; dedup is cut by
        calling the public functions in the order
        ``minhash_dedup_pairs`` calls them."""
        from pyspark import StorageLevel

        from lbf_spark import fsio
        from lbf_spark.operators import dedup as D
        from lbf_spark.sources import table as TB

        def materialize(df):
            df = df.persist(StorageLevel.MEMORY_AND_DISK)
            df.write.format("noop").mode("overwrite").save()
            return df

        docs, scan = inp["docs"], inp["scan"]
        with tr.layer("text.shingle") as sp:
            shingled = D.with_shingles(docs, "doc_id", "text", NGRAM).persist(
                StorageLevel.MEMORY_AND_DISK)
            sp["rows_out"] = shingled.count()
        with tr.layer("dedup.lsh") as sp:
            signed = D.minhash_signature(shingled, HASHES, "doc_id")
            # persist() keeps the frame object, so the broadcast-regime
            # stamp the verify step reads stays on it
            cands = materialize(D.lsh_candidate_pairs(signed, BANDS, "doc_id"))
        n_cands = sp["rows_out"] = cands.count()
        with tr.layer("dedup.verify") as sp:
            pairs = materialize(D.jaccard_pairs(shingled, THRESHOLD, "doc_id",
                                                candidates=cands))
        n_pairs = sp["rows_out"] = pairs.count()
        tr.counts["dedup.verify.useful_ratio"] = n_pairs / n_cands if n_cands else 0.0
        with tr.layer("dedup.clusters") as sp:
            clusters = D.dup_clusters(pairs)  # eager: checkpoints every round
        sp["rows_out"] = clusters.count()
        with tr.layer("dedup.keepers") as sp:
            labels = self._labels(docs, clusters)
            got_labels = labels.toPandas()
        sp["rows_out"] = len(got_labels)
        path = os.path.join(scratch, "table")
        data_dir = fsio.join(path, "data")
        with tr.layer("table.write") as sp:
            snap = self._write(self._keeper_rows(docs, labels), path)
        sp["rows_out"] = int(got_labels["is_keeper"].sum())
        written = sum(os.path.getsize(os.path.join(data_dir, f)) for f in snap["added_files"])
        tr.counts["table.write.bytes_per_input_byte"] = written / scan["input_bytes"]
        D.release_caches()
        for df in (shingled, cands, pairs):
            df.unpersist()
        with tr.layer("table.merge") as sp:
            merged = TB.merge_upsert(spark, path, inp["changes"], keys=["doc_id"],
                                     delete_col="_deleted")
        sp["rows_out"] = inp["changes"].count()
        tr.counts["table.merge.files_rewritten_ratio"] = (
            len(merged["removed_files"]) / max(1, len(snap["added_files"])))
        with tr.layer("table.scan") as sp:
            pruned, full = self._scans(spark, path, scan)
        sp["rows_out"] = len(pruned) + len(full)
        n_all = len(TB.scan_files(spark, path))
        tr.counts["table.scan.files_read_ratio"] = len(TB.scan_files(
            spark, path, ts_min=scan["ts_min"], ts_max=scan["ts_max"])) / max(1, n_all)
        return {"labels": got_labels, "pruned": pruned, "full": full}

    def check(self, out: dict, inp: dict) -> list[str]:
        bad = _mismatch(out["labels"], inp["exp_labels"], ["doc_id"],
                        ["cluster_id", "is_keeper"], "labels", exact=True)
        for part in ("full", "pruned"):
            bad += _mismatch(out[part], inp[f"exp_{part}"], ["doc_id"],
                             TABLE_COLS[1:], f"table.{part}_scan", exact=True)
        return bad

    def release(self, spark) -> None:
        from lbf_spark.operators import dedup as D

        D.release_caches()
        spark.catalog.clearCache()


def workloads(smoke: bool) -> dict:
    """Workloads by name. Full sizes are set so one set-up plus the timed
    passes fit the run budget on a 4-core host; smoke sizes run every
    check in seconds."""
    if smoke:
        ws = [Features("features_decode", True, 3000, 8, 8, pool=256),
              Features("features_asof", False, 3000, 8, 8),
              Curation(200)]
    else:
        ws = [Features("features_decode", True, 80_000, 64, 40),
              Features("features_asof", False, 400_000, 64, 100),
              Curation()]
    return {w.name: w for w in ws}


def clear_dir(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
