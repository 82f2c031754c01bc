"""The benchmark workloads: ``link`` and ``profile``.

Each workload has the same shape:

* ``setup(spark, seed)`` generates its inputs from the seed (``gen``) and
  writes them as parquet.  ``link`` also encodes both parties here, through
  the library's transform → mask → Pipeline path, so its timed part holds
  no mask work.
* ``prepare_checks(spark)`` computes, once, what the correctness check
  compares against (expected vectors, crosswise matches, exact answers).
* ``iterate(spark, i)`` is one timed job; it returns the job's output.  A
  run discards the first ``warmup_iterations`` and times at least
  ``min_samples`` more.
* ``check(output)`` returns ``(ok, quality)``; a failed check counts the
  iteration as failed.
* ``iterate_traced(spark, tracer, i)`` is the same job with a span around
  each layer call and each layer boundary forced with a no-op sink;
  ``layer_metrics(spark, tracer, root)`` turns one traced iteration into
  per-layer metrics afterwards, outside the timed region.
* ``trace_setup(spark, tracer)`` traces the set-up work once (``link``'s
  encode) and returns its per-layer metrics.
"""

from __future__ import annotations

import math
import shutil
from functools import partial
from pathlib import Path

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import gen
from tracing import force, job_group_metrics, plan_nodes

from pprl_spark.config import (
    AttributeSalt,
    AttributeTransformerConfig,
    CLKFilter,
    HardenerConfig,
    HashConfig,
    HashFunctionConfig,
    MaskConfig,
    MatchConfig,
    StaticAttributeConfig,
    TransformConfig,
    TransformerSpec,
)
from pprl_spark.kernels.encode import BloomEncoder
from pprl_spark.kernels.harden import build_hardener_chain
from pprl_spark.kernels.hashing import make_digest_fn
from pprl_spark.kernels.tokenize import tokenize
from pprl_spark.sketch import CountMinSketch, HyperLogLog, KLLSketch
from pprl_spark.sketch.frequent import FrequentItemsSketch
from pprl_spark.sketch.spark_agg import prepare_input, profile_column, sketch_grouped
from pprl_spark.sketch.tdigest import TDigest
from pprl_spark.spark.lsh import LSHConfig, add_band_signatures
from pprl_spark.spark.mask import mask
from pprl_spark.spark.match import match_crosswise, match_lsh
from pprl_spark.spark.pipeline import Pipeline, Stage
from pprl_spark.spark.transform import build_attribute_chain, transform

__all__ = ["WORKLOADS", "PER_LAYER_KEYS", "unit_of"]

ATTRS = ["first_name", "last_name", "dob", "city"]
NAMES = ["first_name", "last_name", "city"]

# Every per-layer metric, in report order; a workload reports 0 for a layer
# it does not run.
PER_LAYER_KEYS = [
    "spark.transform.self_s", "spark.transform.rows",
    "spark.mask.self_s", "spark.mask.rows", "spark.mask.python_bytes_sent",
    "spark.mask.python_bytes_received", "spark.mask.python_time_s",
    "spark.mask.encodes_per_input_row", "spark.mask.fill_ratio",
    "kernels.tokenize.sample_s", "kernels.hashing.sample_s",
    "kernels.harden.sample_s", "kernels.encode.sample_s",
    "spark.pipeline.write_s", "spark.pipeline.bytes_written",
    "spark.pipeline.chunks_committed", "spark.pipeline.metrics_pass_s",
    "spark.lsh.banded_rows", "spark.lsh.buckets", "spark.lsh.max_bucket",
    "spark.lsh.buckets_dropped_by_cap", "spark.lsh.self_s",
    "spark.match.build_s", "spark.match.jobs_at_build", "spark.match.collect_s",
    "spark.match.candidates", "spark.match.pairs_above_threshold",
    "spark.match.useful_ratio", "spark.match.shuffle_write_bytes",
    "spark.match.spill_bytes", "spark.match.accumulator_errors",
    "sketch.spark_agg.prepare_s", "sketch.spark_agg.partials_s",
    "sketch.spark_agg.merge_s", "sketch.spark_agg.rows_in",
    "sketch.spark_agg.states", "sketch.spark_agg.state_bytes",
    "sketch.hll.rel_error", "sketch.cms.rel_error",
    "sketch.kll.rank_error", "sketch.tdigest.rank_error",
    "spark.executor_run_s", "spark.gc_s", "spark.shuffle_write_bytes",
    "spark.spill_bytes", "spark.tasks", "spark.tasks_failed", "spark.jobs",
]


def unit_of(name: str) -> str:
    """Unit of a per-layer metric, from its name."""
    if name.endswith("_s"):
        return "s"
    if "bytes" in name:
        return "bytes"
    if name.endswith(("ratio", "error", "per_input_row")):
        return "ratio"
    return "count"


def _read_columns(path: Path, columns: list[str]) -> dict:
    table = pq.read_table(path, columns=columns)
    return {c: table.column(c).to_pylist() for c in columns}


def _spark_totals(spark, tracer, root) -> dict:
    """Engine-wide stage metrics over every job group of one traced
    iteration."""
    groups = [root["id"]] + [s["id"] for s in tracer.descendants(root)]
    per = job_group_metrics(spark, groups)
    keys = ["executor_run_s", "gc_s", "shuffle_write_bytes", "spill_bytes", "tasks", "tasks_failed", "jobs"]
    return {f"spark.{k}": sum(per[g][k] for g in groups) for k in keys}


def _span(tracer, root, name) -> dict:
    return next(s for s in tracer.descendants(root) if s["name"] == name)


class Link:
    """Two parties mask their own record files through the library's Spark
    path (transform → mask, written by a chunked Pipeline stage) in set-up;
    the timed job matches the two vector sets with LSH blocking and a Dice
    threshold; recall and precision against a planted truth."""

    name = "link"
    parties = ("domain", "range")
    n_per_side = 2_000
    warmup_iterations = 1
    min_samples = 2
    num_chunks = 4
    num_bands = 32
    copy_share = 0.5
    threshold = 0.8
    max_bucket_size = 400
    sample = 100
    kernel_sample = 2_000

    def __init__(self, work: Path):
        self.work = work
        self.records = work / "link" / "records"
        self.encoded = work / "link" / "encoded"
        self.tcfg = TransformConfig(
            attribute_transformers=tuple(
                AttributeTransformerConfig(a, (TransformerSpec("normalization"),)) for a in NAMES
            )
        )
        self.mcfg = MaskConfig(
            filter=CLKFilter(1024, 16),
            hash=HashConfig(HashFunctionConfig(("sha256",), key="linkage-secret"), "double_hash"),
            token_size=2,
            padding="_",
            prepend_attribute_name=True,
            # a permutation keeps every Dice similarity, so the hardened
            # vectors still link; names are salted with the date of birth,
            # which the typo'd copies never change
            hardeners=(HardenerConfig("permute", seed=2024),),
            attributes=tuple(
                StaticAttributeConfig(a, AttributeSalt(attribute="dob")) for a in ("first_name", "last_name")
            ),
        )
        self.lsh = LSHConfig(num_bits=1024, num_bands=self.num_bands, band_width=16, seed=727, scheme="chunked")
        self.match_cfg = MatchConfig("dice", self.threshold)
        self.records_per_iteration = 2 * self.n_per_side

    def settings(self) -> dict:
        return {"records_per_side": self.n_per_side, "copy_share": self.copy_share,
                "transform": "normalization on " + ",".join(NAMES),
                "mask": "clk m=1024 k=16 q=2 hmac-sha256 double_hash, names salted by dob, + permute",
                "num_chunks": self.num_chunks,
                "lsh": f"chunked {self.num_bands} bands x 16 bits",
                "threshold": self.threshold, "max_bucket_size": self.max_bucket_size,
                "crosswise_sample": self.sample}

    def _pipeline(self, spark, workdir: Path, tracer=None, ctx=None) -> Pipeline:
        """One chunked Pipeline stage that encodes both parties' records;
        ``party`` rides through the mask.  With a tracer, transform and mask
        are each forced and persisted inside their own span."""
        def encode(spark_, inputs):
            records = spark_.read.parquet(str(self.records))
            if tracer is None:
                return mask(transform(records, self.tcfg, NAMES), self.mcfg, ATTRS, keep_cols=("party",))
            with tracer.span("spark.mask"):
                with tracer.span("spark.transform"):
                    t = transform(records, self.tcfg, NAMES).persist()
                    ctx["transform_rows"] = force(t)
                m = mask(t, self.mcfg, ATTRS, keep_cols=("party",)).persist()
                ctx["mask_rows"] = force(m)
            ctx["mask_nodes"] = plan_nodes(spark_, m)
            ctx["cached"] = (t, m)
            return m

        stage = Stage("encode", encode, config={"m": 1024, "k": 16, "q": 2},
                      split_by="id", num_chunks=self.num_chunks)
        return Pipeline(spark, workdir, [stage])

    def setup(self, spark, seed: int) -> None:
        """Generate both parties' records into one table, then encode it
        through the library."""
        rng = np.random.default_rng([seed, 2])
        dom, rng_side, truth = gen.link_parties(rng, self.n_per_side, self.copy_share)
        self.cols, self.truth_table, self.seed = {"domain": dom, "range": rng_side}, truth, seed
        table = {c: np.concatenate([dom[c], rng_side[c]]) for c in ["id"] + ATTRS}
        table["party"] = np.repeat(np.array(self.parties), self.n_per_side)
        shutil.rmtree(self.records, ignore_errors=True)
        gen.write_parquet(table, self.records)
        shutil.rmtree(self.encoded, ignore_errors=True)
        self._pipeline(spark, self.encoded).run()

    def prepare_checks(self, spark) -> None:
        """The encoded vectors of a sample must equal the kernel encoder's;
        crosswise matches on a sample, restricted to the pairs LSH can see
        (pairs that share a band signature in a bucket under the cap), are
        what the LSH matches on that sample must equal."""
        chains = {a: build_attribute_chain(self.tcfg, a) for a in ATTRS}
        encoder = BloomEncoder(self.mcfg, ATTRS)
        encoded = _read_columns(self.encoded / "encode" / "data", ["id", "party", "bloom"])
        vectors = {}
        self.encode_ok = len(encoded["id"]) == len(set(encoded["id"])) == 2 * self.n_per_side
        for k, party in enumerate(self.parties):
            cols = self.cols[party]
            rows = [i for i, p in enumerate(encoded["party"]) if p == party]
            out = vectors[party] = {c: [encoded[c][i] for i in rows] for c in ("id", "bloom")}
            got = dict(zip(out["id"], out["bloom"]))
            pick = np.sort(np.random.default_rng([self.seed, 11, k]).choice(
                self.n_per_side, size=self.sample, replace=False))
            ids = cols["id"][pick].tolist()
            normed = {a: [chains[a](v) for v in cols[a][pick].tolist()] for a in ATTRS}
            expected = encoder.encode_batch(ids, normed)
            self.encode_ok &= (
                len(out["id"]) == self.n_per_side
                and len(got) == self.n_per_side
                and all(got.get(i) == v for i, v in zip(ids, expected))
            )
        dom_cols = self.cols["domain"]
        self.kernel_input = (
            dom_cols["id"][: self.kernel_sample].tolist(),
            {a: [chains[a](v) for v in dom_cols[a][: self.kernel_sample].tolist()] for a in ATTRS},
        )

        truth = self.truth_table
        raw = np.frombuffer(b"".join(vectors["domain"]["bloom"]), dtype=np.uint8)
        self.fill_ratio = float(np.unpackbits(raw).mean())
        dom_ids = sorted(vectors["domain"]["id"])[: self.sample]
        dom_set = set(dom_ids)
        copies = [r for d, r in zip(truth["domain_id"].tolist(), truth["range_id"].tolist()) if d in dom_set]
        rest = sorted(set(vectors["range"]["id"]) - set(copies))[: self.sample - len(copies)]
        rng_set = set(copies) | set(rest)

        def sigs(side):
            v = vectors[side]
            raw = np.frombuffer(b"".join(v["bloom"]), dtype=">u2").reshape(len(v["id"]), -1)
            return v["id"], raw[:, : self.lsh.num_bands].astype(np.int64)

        def uncapped(s):
            ok = np.empty_like(s, dtype=bool)
            for b in range(s.shape[1]):
                _, inv, counts = np.unique(s[:, b], return_inverse=True, return_counts=True)
                ok[:, b] = counts[inv] <= self.max_bucket_size
            return ok

        d_ids, d_sig = sigs("domain")
        r_ids, r_sig = sigs("range")
        d_ok, r_ok = uncapped(d_sig), uncapped(r_sig)
        di = [i for i, x in enumerate(d_ids) if x in dom_set]
        ri = [i for i, x in enumerate(r_ids) if x in rng_set]
        hit = (
            (d_sig[di][:, None, :] == r_sig[ri][None, :, :])
            & d_ok[di][:, None, :]
            & r_ok[ri][None, :, :]
        ).any(axis=2)
        blocked = {(d_ids[di[a]], r_ids[ri[b]]) for a, b in zip(*np.nonzero(hit))}

        dom_df, rng_df = self._vectors(spark)
        cross = {
            (r["domain_id"], r["range_id"]): r["similarity"]
            for r in match_crosswise(
                dom_df.filter(F.col("id").isin(sorted(dom_set))),
                rng_df.filter(F.col("id").isin(sorted(rng_set))),
                self.match_cfg, broadcast_range=True,
            ).collect()
        }
        self.truth = set(zip(truth["domain_id"].tolist(), truth["range_id"].tolist()))
        self.sample_sets = (dom_set, rng_set)
        self.sample_expected = {k: v for k, v in cross.items() if k in blocked}
        self.sample_crosswise = len(cross)

    def _vectors(self, spark):
        encoded = spark.read.parquet(str(self.encoded / "encode" / "data"))
        return tuple(encoded.filter(F.col("party") == p).select("id", "bloom") for p in self.parties)

    def _match(self, spark):
        dom, rng = self._vectors(spark)
        return match_lsh(dom, rng, self.match_cfg, self.lsh, max_bucket_size=self.max_bucket_size)

    def iterate(self, spark, i: int):
        return self._match(spark).collect()

    def check(self, rows):
        found = {(r["domain_id"], r["range_id"]): r["similarity"] for r in rows}
        hits = len(self.truth & found.keys())
        dom_set, rng_set = self.sample_sets
        in_sample = {k: v for k, v in found.items() if k[0] in dom_set and k[1] in rng_set}
        quality = {
            "recall": hits / len(self.truth),
            "precision": hits / len(found) if found else 0.0,
            "matches": len(found),
            "sample_pairs": len(self.sample_expected),
            "sample_crosswise_pairs": self.sample_crosswise,
            "fill_ratio": self.fill_ratio,
            "encode_sample_identical": self.encode_ok,
        }
        ok = (
            self.encode_ok
            and len(found) == len(rows)
            and in_sample == self.sample_expected
            and quality["recall"] >= 0.9
            and quality["precision"] >= 0.9
        )
        self.last_quality = quality
        return ok, quality

    def trace_setup(self, spark, tracer) -> dict:
        """The set-up's encode once more, traced into a scratch directory:
        per-layer metrics of transform, mask and the Pipeline write, plus
        the single-core time of each mask kernel."""
        ctx = {}
        workdir = self.work / "link" / "encoded-traced"
        shutil.rmtree(workdir, ignore_errors=True)
        with tracer.span("link.setup_encode") as root:
            with tracer.span("spark.pipeline") as pipe_span:
                pipe = self._pipeline(spark, workdir, tracer, ctx)
                pipe.run()
        stage = pipe.metrics()["encode"]
        bytes_written = sum(p.stat().st_size for p in workdir.rglob("*.parquet"))
        for df in ctx["cached"]:
            df.unpersist()
        shutil.rmtree(workdir, ignore_errors=True)

        msk, tr = _span(tracer, root, "spark.mask"), _span(tracer, root, "spark.transform")
        enc_nodes = [n for n in ctx["mask_nodes"] if n["name"] == "ArrowEvalPython" and "_encode(" in n["desc"]]
        py = lambda key: sum(n["metrics"].get(key, 0) for n in enc_nodes)  # noqa: E731
        out = {
            "spark.transform.self_s": tracer.self_time(tr),
            "spark.transform.rows": ctx["transform_rows"],
            "spark.mask.self_s": tracer.self_time(msk),
            "spark.mask.rows": ctx["mask_rows"],
            "spark.mask.python_bytes_sent": py("pythonDataSent"),
            "spark.mask.python_bytes_received": py("pythonDataReceived"),
            "spark.mask.python_time_s": py("pythonTotalTime") / 1000.0,
            "spark.mask.encodes_per_input_row": py("pythonNumRowsReceived") / ctx["transform_rows"],
            "spark.pipeline.write_s": stage["wall_seconds"] - tracer.duration(msk),
            "spark.pipeline.bytes_written": bytes_written,
            "spark.pipeline.chunks_committed": stage["chunks_run"],
            "spark.pipeline.metrics_pass_s": tracer.duration(pipe_span) - stage["wall_seconds"],
        }
        out |= self._kernel_times(tracer)
        return out

    def _kernel_times(self, tracer) -> dict:
        """Single-core time of each mask kernel on a sample, called from
        this process through the kernels' public functions."""
        ids, cols = self.kernel_input
        cfg = self.mcfg
        out = {}
        salted = {a.attribute_name for a in cfg.attributes}
        with tracer.span("kernels.tokenize") as s:
            tokens = [
                f"{cols['dob'][i] if a in salted else ''}{a}{t}"
                for a in ATTRS
                for i, v in enumerate(cols[a])
                for t in tokenize(v, cfg.token_size, cfg.padding)
            ]
        out["kernels.tokenize.sample_s"] = tracer.duration(s)
        digest = make_digest_fn(list(cfg.hash.function.algorithms), cfg.hash.function.key)
        with tracer.span("kernels.hashing") as s:
            for tok in set(tokens):
                digest(tok.encode())
        out["kernels.hashing.sample_s"] = tracer.duration(s)
        plain = BloomEncoder(MaskConfig(filter=cfg.filter, hash=cfg.hash, token_size=cfg.token_size,
                                        padding=cfg.padding, attributes=cfg.attributes), ATTRS)
        vectors = np.unpackbits(
            np.frombuffer(b"".join(plain.encode_batch(ids, cols)), dtype=np.uint8).reshape(len(ids), -1),
            axis=1,
        ).astype(bool)
        chain = build_hardener_chain(cfg.hardeners)
        with tracer.span("kernels.harden") as s:
            for row in vectors:
                chain(row)
        out["kernels.harden.sample_s"] = tracer.duration(s)
        with tracer.span("kernels.encode") as s:
            BloomEncoder(cfg, ATTRS).encode_batch(ids, cols)
        out["kernels.encode.sample_s"] = tracer.duration(s)
        return out

    def _bucket_stats(self, spark) -> dict:
        sides = []
        for vec, d in zip(self._vectors(spark), (1, 0)):
            sides.append(
                add_band_signatures(vec, self.lsh)
                .select("band", "sig", F.lit(d).alias("d"), F.lit(1 - d).alias("r"))
            )
        buckets = sides[0].unionByName(sides[1]).groupBy("band", "sig").agg(
            F.sum("d").alias("nd"), F.sum("r").alias("nr")
        )
        cap = self.max_bucket_size
        ok = (F.col("nd") <= cap) & (F.col("nr") <= cap)
        row = buckets.agg(
            F.sum(F.col("nd") + F.col("nr")).alias("banded_rows"),
            F.count(F.lit(1)).alias("buckets"),
            F.max(F.greatest("nd", "nr")).alias("max_bucket"),
            F.sum(F.when(~ok, 1).otherwise(0)).alias("dropped"),
            F.sum(F.when(ok, F.col("nd") * F.col("nr")).otherwise(0)).alias("candidates"),
        ).collect()[0]
        return row.asDict()

    def iterate_traced(self, spark, tracer, i: int):
        ctx = self.ctx = {}
        with tracer.span("spark.lsh"):
            ctx["buckets"] = self._bucket_stats(spark)
        with tracer.span("spark.match"):
            with tracer.span("spark.match.build"):
                matches = self._match(spark)
            with tracer.span("spark.match.collect"):
                rows = matches.collect()
        return rows

    def layer_metrics(self, spark, tracer, root) -> dict:
        b = self.ctx["buckets"]
        build, coll, lsh = (_span(tracer, root, n) for n in ("spark.match.build", "spark.match.collect", "spark.lsh"))
        per = job_group_metrics(spark, [build["id"], coll["id"]])
        pairs = self.last_quality["matches"]
        out = {
            "spark.mask.fill_ratio": self.fill_ratio,
            "spark.lsh.banded_rows": b["banded_rows"],
            "spark.lsh.buckets": b["buckets"],
            "spark.lsh.max_bucket": b["max_bucket"],
            "spark.lsh.buckets_dropped_by_cap": b["dropped"],
            "spark.lsh.self_s": tracer.self_time(lsh),
            "spark.match.build_s": tracer.duration(build),
            "spark.match.jobs_at_build": per[build["id"]]["jobs"],
            "spark.match.collect_s": tracer.duration(coll),
            "spark.match.candidates": b["candidates"],
            "spark.match.pairs_above_threshold": pairs,
            "spark.match.useful_ratio": pairs / b["candidates"] if b["candidates"] else 0.0,
            "spark.match.shuffle_write_bytes": sum(p["shuffle_write_bytes"] for p in per.values()),
            "spark.match.spill_bytes": sum(p["spill_bytes"] for p in per.values()),
        }
        out |= _spark_totals(spark, tracer, root)
        return out


class Profile:
    """Mergeable-sketch profile of a skewed page/event table."""

    name = "profile"
    n_rows = 80_000
    warmup_iterations = 1
    min_samples = 3
    quantiles = (0.01, 0.05, 0.1, 0.25, 0.5, 0.75, 0.9, 0.95, 0.99)
    hll_p = 14
    cms_width, cms_depth = 2719, 5
    mg_capacity = 64
    rank_bound = 0.02

    def __init__(self, work: Path):
        self.work = work
        self.table = work / "profile" / "pages"
        self.records_per_iteration = self.n_rows
        # factories are shipped to the workers, so they are partials of the
        # library's classes rather than closures over this object
        self.key_factories = {
            "hll": partial(HyperLogLog, p=self.hll_p),
            "cms": partial(CountMinSketch, self.cms_width, self.cms_depth),
            "mg": partial(FrequentItemsSketch, capacity=self.mg_capacity),
        }
        self.value_factories = {"kll": partial(KLLSketch, k=200), "tdigest": partial(TDigest, 100.0)}
        self.grouped_factory = partial(HyperLogLog, p=self.hll_p)

    def settings(self) -> dict:
        return {"rows": self.n_rows, "key": "host (zipf 1.3 over 50k ids)",
                "value": "lognormal(3.0, 1.2)", "group": "lang (60% one value)",
                "sketches": f"hll p={self.hll_p}, cms {self.cms_width}x{self.cms_depth}, "
                            f"misra-gries {self.mg_capacity}, kll k=200, t-digest 100; "
                            f"hll p={self.hll_p} per lang on user_id"}

    def setup(self, spark, seed: int) -> None:
        rng = np.random.default_rng([seed, 3])
        table = gen.pages(rng, self.n_rows)
        shutil.rmtree(self.table, ignore_errors=True)
        gen.write_parquet(table, self.table)
        self.generated, self.seed = table, seed

    def prepare_checks(self, spark) -> None:
        """Exact answers, and Spark's xxhash64 of the keys the CMS is
        queried for."""
        self.exact = gen.exact_answers(self.generated, seed=self.seed)
        hosts = self.exact["checked_hosts"]
        hashed = (
            spark.createDataFrame([(h,) for h in hosts], "host string")
            .select("host", F.xxhash64("host").alias("h"))
            .collect()
        )
        by_host = {r["host"]: r["h"] for r in hashed}
        self.checked_hashes = np.array([by_host[h] for h in hosts], dtype=np.int64)
        self.reference = None

    def _run(self, spark):
        pages = spark.read.parquet(str(self.table))
        key = profile_column(pages, "host", self.key_factories)
        value = profile_column(pages, "value", self.value_factories)
        grouped = sketch_grouped(pages, ["lang"], "user_id", self.grouped_factory)
        return key, value, grouped

    def iterate(self, spark, i: int):
        key, value, grouped = self._run(spark)
        return key, value, grouped.select("lang", "estimate").collect()

    def _rank_error(self, sketch) -> float:
        values = self.exact["sorted_values"]
        err = 0.0
        for q in self.quantiles:
            est = sketch.quantile(q)
            lo = np.searchsorted(values, est, side="left")
            hi = np.searchsorted(values, est, side="right")
            err = max(err, abs((lo + hi) / 2 / values.size - q))
        return float(err)

    def check(self, output):
        key, value, grouped = output
        ex = self.exact
        n = ex["rows"]
        hll_errs = [abs(key["hll"].estimate() - ex["distinct_hosts"]) / ex["distinct_hosts"]]
        for r in grouped:
            true = ex["users_per_lang"][r["lang"]]
            hll_errs.append(abs(r["estimate"] - true) / true)
        cms_est = key["cms"].estimate(self.checked_hashes)
        true_counts = np.array(ex["checked_counts"])
        cms_err = float(np.max((cms_est - true_counts) / n))
        heavy = {h for h, c in zip(ex["checked_hosts"], ex["checked_counts"]) if c > n / (self.mg_capacity + 1)}
        mg_found = {item for item, _, _ in key["mg"].heavy_hitters()}
        quality = {
            "sketch.hll.rel_error": float(max(hll_errs)),
            "sketch.cms.rel_error": cms_err,
            "sketch.kll.rank_error": self._rank_error(value["kll"]),
            "sketch.tdigest.rank_error": self._rank_error(value["tdigest"]),
        }
        quality["sketch_max_rel_error"] = max(quality.values())
        quality["top_lang_share"] = ex["top_lang_share"]
        hll_bound = 3 * 1.04 / math.sqrt(2 ** self.hll_p)
        fingerprint = (
            key["hll"].serialize(), key["cms"].serialize(), key["mg"].serialize(),
            value["kll"].serialize(), value["tdigest"].serialize(),
            tuple(sorted((r["lang"], r["estimate"]) for r in grouped)),
        )
        if self.reference is None:
            self.reference = fingerprint
        ok = (
            quality["sketch.hll.rel_error"] <= hll_bound
            and bool(np.all(cms_est >= true_counts))
            and cms_err <= math.e / self.cms_width
            and quality["sketch.kll.rank_error"] <= self.rank_bound
            and quality["sketch.tdigest.rank_error"] <= self.rank_bound
            and heavy <= mg_found
            and len(grouped) == len(ex["users_per_lang"])
            and fingerprint == self.reference
        )
        self.last_quality = quality
        return ok, quality

    def trace_setup(self, spark, tracer) -> dict:
        return {}

    def iterate_traced(self, spark, tracer, i: int):
        ctx = self.ctx = {}
        pages = spark.read.parquet(str(self.table))
        with tracer.span("sketch.spark_agg"):
            with tracer.span("sketch.spark_agg.prepare"):
                force(prepare_input(pages, "host", self.key_factories["hll"]))
                force(prepare_input(pages, "value", self.value_factories["kll"]))
            with tracer.span("sketch.spark_agg.profile_key"):
                key = profile_column(pages, "host", self.key_factories)
            with tracer.span("sketch.spark_agg.profile_value"):
                value = profile_column(pages, "value", self.value_factories)
            with tracer.span("sketch.spark_agg.grouped"):
                grouped = sketch_grouped(pages, ["lang"], "user_id", self.grouped_factory).select(
                    "lang", "estimate"
                )
                rows = grouped.collect()
        ctx["grouped_nodes"] = plan_nodes(spark, grouped)
        return key, value, rows

    def layer_metrics(self, spark, tracer, root) -> dict:
        prep, pk, pv, gs = (
            _span(tracer, root, n)
            for n in ("sketch.spark_agg.prepare", "sketch.spark_agg.profile_key",
                      "sketch.spark_agg.profile_value", "sketch.spark_agg.grouped")
        )
        per = job_group_metrics(spark, [pk["id"], pv["id"], gs["id"]])
        partials = merge = 0.0
        # profile_column: partial states come back with its last job; the
        # rest of the call is the merge in this process
        for s in (pk, pv):
            done = max(t[1] for t in per[s["id"]]["job_times"])
            partials += done - s["start"]
            merge += s["end"] - done
        # sketch_grouped: the last job is the state shuffle read + merge
        merge_start = per[gs["id"]]["job_times"][-1][0]
        partials += merge_start - gs["start"]
        merge += gs["end"] - merge_start
        maps = [n for n in self.ctx["grouped_nodes"] if n["name"] == "MapInPandas"]
        out = {
            "sketch.spark_agg.prepare_s": tracer.duration(prep),
            "sketch.spark_agg.partials_s": partials,
            "sketch.spark_agg.merge_s": merge,
            "sketch.spark_agg.rows_in": 3 * self.n_rows,
            "sketch.spark_agg.states": sum(n["metrics"].get("pythonNumRowsReceived", 0) for n in maps),
            "sketch.spark_agg.state_bytes": sum(n["metrics"].get("pythonDataReceived", 0) for n in maps),
        }
        out |= {k: v for k, v in self.last_quality.items() if k.startswith("sketch.") and k in PER_LAYER_KEYS}
        out |= _spark_totals(spark, tracer, root)
        return out


WORKLOADS = {w.name: w for w in (Link, Profile)}
