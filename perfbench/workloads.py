"""The three workloads: input generation, the timed op, output checks
and the per-layer extras of a traced run.

Inputs are generated here from the seed and written to parquet; the
engine only ever sees those files.  Each workload exposes

* ``write_inputs()``            -- parquet files under the work dir
* ``items``                     -- work units of one op
* ``op(spark, out, spans)``     -- one user call, input parquet to result
* ``prepare()``, ``check_op(spark, handle, out)`` and ``check_run(spark)``
  -- reference results and output checks, outside the timed region
* ``layers(spark, probe, handle, spans)`` -- traced-run extras
"""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import checks
from probes import Spans

# one place for every size; README.md explains the choice
SIZES = {
    "knn_dtw": {"n_test": 300, "n_train": 1000, "len_lo": 64, "len_hi": 128,
                "radius": 5, "classes": 3, "oracle_queries": 3,
                "kernel_pairs": 4000},
    "kmeans_fit": {"n_series": 2000, "length": 64, "k": 8, "max_iter": 3},
    "dedup_text": {"n_docs": 5000, "vocab": 30000, "zipf_a": 1.1,
                   "len_lo": 40, "len_hi": 120, "family_frac": 0.1,
                   "family_lo": 2, "family_hi": 6, "edits_hi": 3,
                   "n_shingle": 3, "threshold": 0.5, "df_cap": 256,
                   "pair_sample": 200},
}


def _series_table(values: list, extra: dict | None = None) -> pa.Table:
    """series_id long, values array<array<double>> (univariate), + extras."""
    lens = np.array([len(v) for v in values], dtype=np.int32)
    flat = pa.array(np.concatenate(values), type=pa.float64())
    inner = pa.ListArray.from_arrays(
        pa.array(np.arange(len(flat) + 1, dtype=np.int32)), flat)
    outer_off = np.zeros(len(values) + 1, dtype=np.int32)
    np.cumsum(lens, out=outer_off[1:])
    cols = {"series_id": pa.array(np.arange(len(values), dtype=np.int64)),
            "values": pa.ListArray.from_arrays(pa.array(outer_off), inner)}
    cols.update(extra or {})
    return pa.table(cols)


def _noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class KnnDtw:
    """1-NN DTW classification of z-normalized mixed-length series."""

    name = "knn_dtw"
    needs_ckernel = True  # ops without the compiled kernel count as failed

    def __init__(self, seed: int, work: str):
        self.cfg = c = SIZES[self.name]
        self.seed = seed
        rs = np.random.RandomState(seed)
        n = c["n_test"] + c["n_train"]
        self.labels = rs.randint(0, c["classes"], n)
        self.series = [self._shape(rs, y, rs.randint(c["len_lo"], c["len_hi"] + 1))
                       for y in self.labels]
        self.test_path = os.path.join(work, "knn_test.parquet")
        self.train_path = os.path.join(work, "knn_train.parquet")
        self.items = c["n_test"] * c["n_train"]
        self.sizes = {"n_test": c["n_test"], "n_train": c["n_train"],
                      "lengths": [c["len_lo"], c["len_hi"]],
                      "radius": c["radius"], "pairs": self.items}

    @staticmethod
    def _shape(rs, y: int, length: int) -> np.ndarray:
        """Class 0 sine, 1 square, 2 sawtooth; random frequency, phase,
        offset and scale, plus white noise and a slow random walk."""
        t = np.linspace(0.0, 1.0, length)
        ph = 2 * np.pi * (rs.uniform(1.5, 4.0) * t + rs.uniform())
        base = [np.sin(ph), np.sign(np.sin(ph)),
                (ph / np.pi) % 2.0 - 1.0][y]
        noise = 0.3 * rs.randn(length) + 0.05 * np.cumsum(rs.randn(length))
        return rs.uniform(-5, 5) + rs.uniform(0.5, 3.0) * (base + noise)

    def _split(self):
        n_test = self.cfg["n_test"]
        return self.series[:n_test], self.series[n_test:]

    def write_inputs(self) -> None:
        test, train = self._split()
        n_test = len(test)
        pq.write_table(_series_table(test), self.test_path)
        lab = pa.array([str(v) for v in self.labels[n_test:]])
        pq.write_table(_series_table(train, {"label": lab}), self.train_path)

    def _frames(self, spark):
        from tslearn_spark.preprocessing import transform_mean_variance

        return (transform_mean_variance(spark.read.parquet(self.test_path)),
                transform_mean_variance(spark.read.parquet(self.train_path)))

    def op(self, spark, out: str, spans: Spans):
        from tslearn_spark.neighbors import knn_classify

        with spans("preprocessing.transform_mean_variance"):
            test, train = self._frames(spark)
        with spans("neighbors.knn_classify"):
            pred = knn_classify(test, train, k=1, metric="dtw",
                                sakoe_chiba_radius=self.cfg["radius"])
        with spans("write"):
            pred.write.mode("overwrite").parquet(out)
        return None

    def prepare(self) -> None:
        """Naive 1-NN of a seeded sample of test queries."""
        test, train = self._split()
        rs = np.random.RandomState([self.seed, 1])
        sample = rs.choice(len(test), self.cfg["oracle_queries"], replace=False)
        idx, dist = checks.nn_oracle([checks.znorm(test[q]) for q in sample],
                                     [checks.znorm(t) for t in train],
                                     self.cfg["radius"])
        # series ids are the row positions within each file
        self._nn = (sample, idx, dist)

    def check_op(self, spark, handle, out: str) -> list[str]:
        sample, idx, _ = self._nn
        rows = spark.read.parquet(out).collect()
        pred = {r["series_id"]: r["prediction"] for r in rows}
        n_test = self.cfg["n_test"]
        want = {int(q): str(self.labels[n_test + j]) for q, j in zip(sample, idx)}
        return checks.check_knn_predictions(pred, n_test, want)

    def check_run(self, spark) -> list[str]:
        """The engine's neighbor ids and distances on the oracle sample."""
        from pyspark.sql import functions as F

        from tslearn_spark.neighbors import kneighbors

        sample, idx, dist = self._nn
        test, train = self._frames(spark)
        q = test.where(F.col("series_id").isin([int(s) for s in sample]))
        nn = {r["id1"]: (r["id2"], r["dist"]) for r in kneighbors(
            q, train, k=1, metric="dtw",
            sakoe_chiba_radius=self.cfg["radius"]).collect()}
        got = [nn.get(int(s), (None, float("nan"))) for s in sample]
        return checks.check_knn_neighbors([g[0] for g in got], [g[1] for g in got],
                                          list(idx), list(dist))

    def kernel_sample(self):
        """A seeded sample of this workload's (test, train) pairs."""
        test, train = self._split()
        rs = np.random.RandomState([self.seed, 2])
        n = self.cfg["kernel_pairs"]
        a = [checks.znorm(test[i]).reshape(-1, 1) for i in rs.randint(0, len(test), n)]
        b = [checks.znorm(train[j]).reshape(-1, 1) for j in rs.randint(0, len(train), n)]
        return a, b, self.cfg["radius"]

    def layers(self, spark, probe, handle, spans: Spans) -> dict:
        test, train = self._frames(spark)
        t0 = time.perf_counter()
        _noop_write(test.unionByName(train.drop("label")))
        return {"preprocessing.zscore_s": time.perf_counter() - t0,
                "neighbors.pairs": self.items}


class KMeansFit:
    """Euclidean Lloyd k-means fit of equal-length series, labels written."""

    name = "kmeans_fit"
    needs_ckernel = False

    def __init__(self, seed: int, work: str):
        self.cfg = c = SIZES[self.name]
        self.seed = seed
        rs = np.random.RandomState(seed)
        protos = np.cumsum(rs.randn(c["k"], c["length"]), axis=1)
        protos -= protos.mean(axis=1, keepdims=True)
        y = rs.randint(0, c["k"], c["n_series"])
        self.X = protos[y] + 0.8 * rs.randn(c["n_series"], c["length"])
        self.path = os.path.join(work, "kmeans.parquet")
        self.items = c["n_series"] * c["max_iter"]
        self.sizes = {"n_series": c["n_series"], "length": c["length"],
                      "k": c["k"], "max_iter": c["max_iter"]}

    def write_inputs(self) -> None:
        pq.write_table(_series_table(list(self.X)), self.path)

    def _model(self):
        from tslearn_spark.clustering import TimeSeriesKMeans

        c = self.cfg
        return TimeSeriesKMeans(n_clusters=c["k"], metric="euclidean", tol=0.0,
                                max_iter=c["max_iter"], random_state=self.seed)

    def op(self, spark, out: str, spans: Spans):
        model = self._model()
        with spans("clustering.fit"):
            model.fit(spark.read.parquet(self.path))
        with spans("write"):
            model.labels_.write.mode("overwrite").parquet(out)
        return model

    def check_op(self, spark, model, out: str) -> list[str]:
        rows = spark.read.parquet(out).collect()
        labels = {r["series_id"]: r["cluster"] for r in rows}
        c = self.cfg
        return checks.check_kmeans(labels, self.X, model.cluster_centers_,
                                   model.n_iter_, c["max_iter"], c["k"])

    def prepare(self) -> None:
        pass

    def check_run(self, spark) -> list[str]:
        return []

    def layers(self, spark, probe, model, spans: Spans) -> dict:
        it = list(getattr(model, "_iter_seconds_", []))
        # Lloyd iterations are the tail of fit(): count the jobs submitted
        # inside that window
        fit_end_ms = spans.end_epoch_ms("clustering.fit")
        start_ms = fit_end_ms - 1000.0 * sum(it)
        jobs = [t for t in probe.job_submit_ms(spans.group)
                if start_ms <= t <= fit_end_ms]
        t0 = time.perf_counter()
        _noop_write(model.predict(spark.read.parquet(self.path)))
        return {"clustering.n_iter": model.n_iter_,
                "clustering.s_per_iter": float(np.median(it)) if it else 0.0,
                "clustering.jobs_per_iter": len(jobs) / max(model.n_iter_, 1),
                "clustering.predict_s": time.perf_counter() - t0}


class DedupText:
    """3-gram Jaccard near-duplicate removal over a Zipf-token corpus."""

    name = "dedup_text"
    needs_ckernel = False

    def __init__(self, seed: int, work: str):
        self.cfg = c = SIZES[self.name]
        self.seed = seed
        rs = np.random.RandomState(seed)
        vocab = self._vocab(rs, c["vocab"])
        cdf = np.cumsum(1.0 / np.arange(1, c["vocab"] + 1) ** c["zipf_a"])
        cdf /= cdf[-1]

        def words(k: int) -> list[str]:
            """k Zipf-distributed tokens."""
            r = np.minimum(np.searchsorted(cdf, rs.random_sample(k)), len(vocab) - 1)
            return list(vocab[r])

        n = c["n_docs"]
        docs: list[list[str] | None] = [None] * n
        ids = rs.permutation(n)  # family members land at random ids
        families, pos = [], 0
        while pos < int(n * c["family_frac"]):
            size = rs.randint(c["family_lo"], c["family_hi"] + 1)
            fam = [int(i) for i in ids[pos: pos + size]]
            pos += size
            tpl = words(rs.randint(c["len_lo"], c["len_hi"] + 1))
            docs[fam[0]] = tpl
            for m in fam[1:]:
                copy = list(tpl)
                for _ in range(rs.randint(1, c["edits_hi"] + 1)):
                    copy[rs.randint(len(copy))] = words(1)[0]
                docs[m] = copy
            families.append(fam)
        for i in ids[pos:]:
            docs[i] = words(rs.randint(c["len_lo"], c["len_hi"] + 1))
        # punctuation between some tokens exercises the tokenizer's split
        self.texts = {i: " ".join(w + ("," if k % 7 == 6 else "") for k, w in enumerate(d))
                      for i, d in enumerate(docs)}
        self.families = families
        self.path = os.path.join(work, "docs.parquet")
        self.items = n
        self.sizes = {"n_docs": n, "families": len(families),
                      "vocab": c["vocab"], "n_shingle": c["n_shingle"],
                      "threshold": c["threshold"], "df_cap": c["df_cap"]}

    @staticmethod
    def _vocab(rs, n: int) -> np.ndarray:
        letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
        words = set()
        while len(words) < n:
            words.add("".join(letters[rs.randint(0, 26, rs.randint(3, 9))]))
        return np.array(sorted(words))

    def write_inputs(self) -> None:
        ids = np.arange(len(self.texts), dtype=np.int64)
        pq.write_table(pa.table({
            "doc_id": pa.array(ids),
            "text": pa.array([self.texts[i] for i in ids.tolist()])}), self.path)

    def _pairs(self, spark):
        from tslearn_spark.pipeline import ngram_jaccard_pairs

        c = self.cfg
        return ngram_jaccard_pairs(spark.read.parquet(self.path),
                                   n_shingle=c["n_shingle"],
                                   threshold=c["threshold"], df_cap=c["df_cap"])

    def op(self, spark, out: str, spans: Spans):
        from pyspark.sql import functions as F

        from tslearn_spark.pipeline import canonicalize

        pairs = self._pairs(spark)
        if spans.traced:
            # the traced op materializes the pairs so the two phases time apart
            with spans("dedup.pairs"):
                pairs = pairs.localCheckpoint()
        with spans("dedup.components"):
            canon = canonicalize(pairs)
        with spans("dedup.write"):
            drop = canon.where(F.col("doc_id") != F.col("keep_doc_id"))
            docs = spark.read.parquet(self.path)
            docs.join(drop.select("doc_id"), "doc_id", "left_anti") \
                .write.mode("overwrite").parquet(out)
        return pairs, canon

    def prepare(self) -> None:
        """Exact capped shingle sets of every document."""
        c = self.cfg
        self._sets = checks.capped_sets(self.texts, c["n_shingle"], c["df_cap"])

    def check_op(self, spark, handle, out: str) -> list[str]:
        _, canon = handle
        keep = {r["doc_id"]: r["keep_doc_id"] for r in canon.collect()}
        kept = [r["doc_id"] for r in spark.read.parquet(out).select("doc_id").collect()]
        return (checks.check_families(keep, self.families, self._sets,
                                      self.cfg["threshold"])
                + checks.check_kept(kept, self.texts.keys(), keep))

    def check_run(self, spark) -> list[str]:
        """Exact-Jaccard re-check of a seeded sample of output pairs."""
        rows = [(r["id1"], r["id2"], r["jaccard"]) for r in
                self._pairs(spark).select("id1", "id2", "jaccard").collect()]
        if not rows:
            return ["no near-duplicate pairs found"]
        rs = np.random.RandomState([self.seed, 3])
        pick = rs.choice(len(rows), min(self.cfg["pair_sample"], len(rows)),
                         replace=False)
        return checks.check_pairs([rows[i] for i in pick], self._sets,
                                  self.cfg["threshold"])

    def layers(self, spark, probe, handle, spans: Spans) -> dict:
        pairs, canon = handle
        pairs_out = pairs.count()
        candidates = sum(v for name, desc, m, v in spans.plan_metrics
                         if name.endswith("Join") and "NestedLoop" not in name
                         and "token" in desc and m == "number of output rows")
        return {"dedup.pairs_s": spans.total("dedup.pairs"),
                "dedup.components_s": spans.total("dedup.components"),
                "dedup.write_s": spans.total("dedup.write"),
                "dedup.pairs_out": pairs_out,
                "dedup.candidate_rows": candidates,
                "dedup.useful_ratio": pairs_out / candidates if candidates else 0.0,
                "dedup.components": canon.select("keep_doc_id").distinct().count()}


WORKLOADS = {w.name: w for w in (KnnDtw, KMeansFit, DedupText)}

