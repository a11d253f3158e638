"""The benchmark's workloads. Each one generates its inputs from the
seed (untimed), lays them out for the program, then runs timed units
(one ``SparkCrawler.run()`` or one full IVF pass) and checks every
unit's output against values computed here, not by the program.

A workload exposes:
  warm_units         -> untimed units run before timing starts
  prepare()          -> inputs on disk (untimed, cached by seed)
  layout()           -> one-time program-side layout (part of set-up)
  new_unit()         -> per-unit program-side set-up (a fresh crawler)
  run(unit)          -> the timed call
  check(unit)        -> [(check name, ok)]
  layers(unit, ...)  -> per-layer numbers of one traced unit
  replays()          -> in-process per-page/per-link/per-image timings
  close(unit)        -> remove the unit's store
"""

from __future__ import annotations

import contextlib
import json
import math
import os
import shutil
import statistics
import time

import inputs
from spans import SparkLedger, Tracer, busy_union

MB = float(1 << 20)
REPLAY_MIN_S = 0.2  # each replay repeats its pass until this much time has passed


def _du(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(r, f)) for r, _d, fs in os.walk(path) for f in fs
    )


def _spark_layers(ledger: SparkLedger, jobs: list[dict]) -> dict:
    """Totals over the stages and plan metrics of ``jobs``."""
    st = ledger.stages({s for j in jobs for s in j["stages"]})
    sql = ledger.sql_totals({j["id"] for j in jobs})
    return {
        "engine.python_s": sql["python_s"],
        "engine.arrow_sent_mb": sql["arrow_sent_b"] / MB,
        "engine.arrow_recv_mb": sql["arrow_recv_b"] / MB,
        "engine.shuffle_write_mb": sum(s["shuffle_write_b"] for s in st) / MB,
        "engine.spill_mb": sum(s["spill_b"] for s in st) / MB,
        "engine.executor_cpu_s": sum(s["cpu_s"] for s in st),
        "engine.gc_s": sum(s["gc_s"] for s in st),
        "engine.failed_tasks": sum(s["failed_tasks"] for s in st),
    }


def _timed_per_item(fn, items) -> float:
    """Microseconds per item of ``fn`` over ``items``, repeating the
    pass until ``REPLAY_MIN_S`` has elapsed; median over the passes."""
    per, total = [], 0.0
    while total < REPLAY_MIN_S or len(per) < 3:
        t0 = time.perf_counter()
        for it in items:
            fn(it)
        dt = time.perf_counter() - t0
        total += dt
        per.append(dt / max(len(items), 1) * 1e6)
    return statistics.median(per)


class Workload:
    name = ""

    def __init__(self, spark, seed: int, state_dir: str, machine: dict):
        self.spark = spark
        self.seed = seed
        self.state = state_dir
        self.machine = machine
        self.tracer: Tracer | None = None  # set for traced units only
        self._n = 0

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()

    def items(self) -> int:
        raise NotImplementedError


# ---------------------------------------------------------------- crawls


def _manifests(workdir: str) -> list[dict]:
    """The crawl's committed wave manifests, read from its store on disk."""
    d = os.path.join(workdir, "_manifests")
    out = []
    for name in sorted(os.listdir(d)):
        if name.startswith("wave-") and name.endswith(".json") and ".part" not in name:
            with open(os.path.join(d, name)) as f:
                out.append(json.load(f))
    return sorted(out, key=lambda m: m["wave"])


class PoliteImages(Workload):
    name = "polite_images"
    item_unit = "urls"
    warm_units = 2
    shape = {"hosts": 80, "branching": 20, "depth": 1, "hot": 3, "image_px": 16}
    # per_host_budget = branching: every host fits one sub-wave except
    # the hot one, which needs ``hot`` of them. The seen-set crosses
    # bloom_min_seen at the first wave's commit, so the prefilter
    # activates (one fold of the whole seen-set) as it does at 100k+
    # URLs with the default threshold.
    cfg = {"per_host_budget": 20, "bloom_min_seen": 1_000}

    def prepare(self) -> None:
        self.dir = inputs.cached(
            os.path.join(self.state, "cache"), self.name, self.seed, self.shape,
            lambda out: inputs.build_web(out, self.seed, self.shape),
        )
        with open(os.path.join(self.dir, "meta.json")) as f:
            self.meta = json.load(f)

    def items(self) -> int:
        return self.meta["expected_fetched"]

    def layout(self) -> None:
        sp = self.spark
        self.pages = sp.read.parquet(os.path.join(self.dir, "pages.parquet"))
        self.robots = sp.read.parquet(os.path.join(self.dir, "robots.parquet"))
        self.images = sp.read.parquet(os.path.join(self.dir, "images.parquet"))

    def new_unit(self):
        from crawlspark.config import CrawlConfig
        from crawlspark.engine import SparkCrawler

        self._n += 1
        workdir = os.path.join(self.state, "work", f"{self.name}-{os.getpid()}-{self._n}")
        shutil.rmtree(workdir, ignore_errors=True)
        m = self.machine
        cfg = CrawlConfig(
            From=self.meta["seeds"], MaxDepth=self.shape["depth"], RespectNofollow=False,
            shuffle_partitions=m["shuffle_partitions"], parse_partitions=m["parse_partitions"],
            detailed_metrics=False, **self.cfg,
        )
        return SparkCrawler(
            self.spark, cfg, self.pages, self.robots, images_df=self.images,
            workdir=workdir, check_payload=True,
        )

    def run(self, unit) -> None:
        with self.span("SparkCrawler.run"):
            unit.run()

    def close(self, unit) -> None:
        shutil.rmtree(unit.workdir, ignore_errors=True)

    def _fetched(self, unit) -> tuple[int, int, list]:
        ms = [m for m in unit.store.metrics() if m["wave"] >= 0]
        return sum(m.get("fetched", 0) for m in ms), sum(m.get("blocked", 0) for m in ms), ms

    # ---- traced-unit layers

    def layers(self, unit, tracer: Tracer, ledger: SparkLedger, t0: float, t1: float,
               group: str) -> dict:
        fetched, _b, ms = self._fetched(unit)
        waves = max(len(ms), 1)
        jobs = ledger.jobs(t0, t1, group)
        gap = (t1 - t0) - busy_union([(j["start"], j["end"]) for j in jobs], t0, t1)

        stage_sp = tracer.named("SnapshotStore.stage", t0)
        commit_sp = [s for s in tracer.spans if s["name"].startswith("SnapshotStore.commit_wave") and s["start"] >= t0]
        full = {s["name"]: s for s in commit_sp if ".part" not in s["name"]}
        ends = sorted(s["end"] for s in commit_sp)
        gaps = [b - a for a, b in zip([t0] + ends, ends)]

        laps = lambda m: sum(m.get(k, 0.0) for k in ("t_fetch_parse", "t_frontier", "t_bloom"))  # noqa: E731
        unattr, wall = 0.0, 0.0
        for m in ms:
            cur = full.get(f"SnapshotStore.commit_wave[{m['wave']}]")
            prev = full.get(f"SnapshotStore.commit_wave[{m['wave'] - 1}]")
            if cur is None or prev is None:
                continue
            w = cur["end"] - prev["end"]
            wall += w
            unattr += w - laps(m) - (cur["end"] - cur["start"])
        sub_t = [t for m in ms for t in m.get("subwave_t", [m.get("t_fetch_parse", 0.0)])]
        bytes_written = _du(unit.workdir)
        return {
            "engine.jobs_per_wave": len(jobs) / waves,
            "engine.stages_per_wave": sum(j["done_stages"] for j in jobs) / waves,
            "engine.driver_gap_s": gap,
            "engine.fetch_parse_s": sum(m.get("t_fetch_parse", 0.0) for m in ms),
            "engine.frontier_s": sum(m.get("t_frontier", 0.0) for m in ms),
            "engine.subwaves": sum(m.get("subwaves", 0) for m in ms),
            "engine.subwave_max_s": max(sub_t) if sub_t else 0.0,
            **_spark_layers(ledger, jobs),
            "engine.unattributed_s": unattr,
            "engine.unattributed_frac": unattr / wall if wall > 0 else 0.0,
            "bloomfilter.fold_s": sum(m.get("t_bloom", 0.0) for m in ms),
            "store.stage_s": sum(s["end"] - s["start"] for s in stage_sp),
            "store.stage_calls": len(stage_sp),
            "store.commit_s": sum(s["end"] - s["start"] for s in commit_sp),
            "store.commits": len(commit_sp),
            "store.commit_gap_max_s": max(gaps) if gaps else 0.0,
            "store.bytes_written_mb": bytes_written / MB,
            "store.bytes_per_url": bytes_written / max(fetched, 1),
        }

    def trace_hooks(self, tracer: Tracer):
        """Shims on the public calls the engine makes into the store
        and the seen filter (spans only; the calls are unchanged)."""
        from crawlspark import bloomfilter
        from crawlspark.store import SnapshotStore

        stack = contextlib.ExitStack()
        stack.enter_context(tracer.wrap(SnapshotStore, "stage", "SnapshotStore.stage"))
        stack.enter_context(tracer.wrap(
            SnapshotStore, "commit_wave",
            lambda a, kw: f"SnapshotStore.commit_wave[{a[1]}]"
            + (f".part{kw['part']}" if kw.get("part") is not None else ""),
        ))
        stack.enter_context(tracer.wrap(SnapshotStore, "metrics", "SnapshotStore.metrics"))
        stack.enter_context(tracer.wrap(bloomfilter, "mark", "bloomfilter.mark"))
        stack.enter_context(tracer.wrap(bloomfilter, "probe", "bloomfilter.probe"))
        return stack

    # ---- in-process replays of the pure cores over this workload's pages

    def replays(self, unit) -> dict:
        import numpy as np
        import pyarrow.parquet as pq

        from crawlspark import canon, htmlex, robots

        t = pq.read_table(os.path.join(self.dir, "pages.parquet"), columns=["url", "html"])
        rng = np.random.default_rng(self.seed)
        pick = rng.choice(t.num_rows, size=min(400, t.num_rows), replace=False)
        urls = [t["url"][int(i)].as_py() for i in pick]
        htmls = [t["html"][int(i)].as_py() for i in pick]
        out = {"htmlex.extract_us_per_page": _timed_per_item(htmlex.extract_html, htmls)}

        pairs = [(u, href) for u, h in zip(urls, htmls) for href, _a, _nf in htmlex.extract_html(h)["Links"]]
        resolvers = {u: canon.make_resolver(u) for u in urls}
        out["canon.resolve_us_per_link"] = _timed_per_item(lambda p: resolvers[p[0]](p[1]), pairs)

        rt = pq.read_table(os.path.join(self.dir, "robots.parquet")).to_pydict()
        matchers = {
            h: robots.Matcher(robots.from_status(s, b), "Crawler")
            for h, s, b in zip(rt["host"], rt["status_code"], rt["body"])
        }
        targets = [(matchers[canon.parse_url(u).host], resolvers[u](href)["Full"]) for u, href in pairs]
        out["robots.match_us_per_url"] = _timed_per_item(lambda p: p[0].allowed(p[1]), targets)
        out["imagecodec.decode_us_per_image"] = self._image_replay()
        out.update(self._bloom_probe(unit))
        return out

    def check(self, unit) -> list:
        from pyspark.sql import functions as F

        from crawlspark import benchgen

        fetched, blocked, ms = self._fetched(unit)
        s, budget = self.shape, self.cfg["per_host_budget"]
        out = [
            ("fetched==expected", fetched == self.meta["expected_fetched"]),
            ("expected==benchgen.expected_counts",
             self.meta["expected_fetched"]
             == benchgen.expected_counts(s["hosts"], s["branching"], s["depth"], s["hot"])),
            ("nothing blocked", blocked == 0),
            ("hot host sub-waves==ceil(hot*b/budget), others 1",
             [m.get("subwaves") for m in ms] == [1, math.ceil(s["branching"] * s["hot"] / budget)]),
        ]
        slices = []
        for m in _manifests(unit.workdir):
            for t, info in m["tables"].items():
                if t == "results" or t.startswith("results_sub"):
                    slices.append(self.spark.read.parquet(*info["files"]).select(
                        F.lit(f"{m['wave']}/{t}").alias("slice"),
                        F.col("Address.Host").alias("host"),
                        F.col("Payload.ImageId").alias("img"),
                        F.col("Payload.Caption").alias("cap"),
                        F.col("Payload.Psnr").alias("psnr"),
                        F.col("Payload.PixelsOk").alias("ok"),
                    ))
        rows = slices[0]
        for sl in slices[1:]:
            rows = rows.unionByName(sl)
        rows = rows.collect()
        per: dict = {}
        for r in rows:
            per[(r["slice"], r["host"])] = per.get((r["slice"], r["host"]), 0) + 1
        with open(os.path.join(self.dir, "captions.json")) as f:
            caps = json.load(f)
        pay = [r for r in rows if r["img"] is not None]
        out += [
            ("no host over budget in any sub-wave", max(per.values()) <= budget),
            ("every image payload present", len(pay) == len(caps)
             and {r["img"] for r in pay} == set(caps)),
            ("every payload PSNR>=40 and PixelsOk",
             all(r["ok"] is True and r["psnr"] is not None and r["psnr"] >= 40.0 for r in pay)),
            ("captions equal the input", all(caps.get(r["img"]) == r["cap"] for r in pay)),
        ]
        return out

    def _bloom_probe(self, unit) -> dict:
        """Share of keys known to be new that the committed filter
        answers "maybe seen" (its false-positive rate), over a fixed
        base of probes."""
        from pyspark.sql import functions as F

        from crawlspark import bloomfilter

        man = [m for m in _manifests(unit.workdir) if "bloom" in m["tables"]]
        bits = self.spark.read.parquet(*man[-1]["tables"]["bloom"]["files"])
        base = 20_000
        keys = self.spark.range(base).select(
            F.concat(F.lit(f"http://absent-{self.seed}-"), F.col("id").cast("string"),
                     F.lit(".bench.test/")).alias("url_key")
        )
        probed = bloomfilter.probe(keys, bits, "url_key", unit.bloom_cfg)
        maybe = probed.filter(F.col("_maybe_seen")).count()
        return {"bloomfilter.maybe_frac": maybe / base, "bloomfilter.maybe_base": base}

    def _image_replay(self) -> float:
        import pyarrow.parquet as pq

        from crawlspark import imagecodec

        t = pq.read_table(os.path.join(self.dir, "images.parquet")).slice(0, 300).to_pydict()
        items = [
            (b, imagecodec.synth_image(i, w, h))
            for i, b, w, h in zip(t["image_id"], t["bytes"], t["w"], t["h"])
        ]
        return _timed_per_item(lambda it: imagecodec.psnr(it[1], imagecodec.decode(it[0], "qjpg")), items)

# ------------------------------------------------------------------- ann


class AnnDedup(Workload):
    name = "ann_dedup"
    item_unit = "vectors"
    warm_units = 3
    shape = {
        "vectors": 3000, "dim": 64, "centroids": 16, "spread": 1.0, "dup_frac": 0.05,
        "threshold": 0.9, "queries": 10, "topk": 5, "n_probe": 2,
    }

    def prepare(self) -> None:
        self.dir = inputs.cached(
            os.path.join(self.state, "cache"), self.name, self.seed, self.shape,
            lambda out: inputs.build_ann(out, self.seed, self.shape),
        )
        with open(os.path.join(self.dir, "ref.json")) as f:
            self.ref = json.load(f)

    def items(self) -> int:
        return self.shape["vectors"]

    def layout(self) -> None:
        self.emb = self.spark.read.parquet(os.path.join(self.dir, "emb.parquet"))
        self.cents = self.spark.read.parquet(os.path.join(self.dir, "centroids.parquet"))

    def new_unit(self):
        return {}

    def run(self, unit) -> None:
        from crawlspark.ops import dedup, similarity

        s = self.shape
        with self.span("ops.assign.collect"):
            unit["assign"] = sorted(
                (r["vec_id"], r["bucket"])
                for r in similarity.ivf_assign(self.emb, self.cents).collect()
            )
        with self.span("ops.neardup.collect"):
            unit["neardup"] = [
                (r["vec_a"], r["vec_b"], r["cosine"])
                for r in dedup.embedding_neardup_ivf(
                    self.emb, self.cents, threshold=s["threshold"]
                ).collect()
            ]
        with self.span("ops.topk.collect"):
            unit["topk"] = [
                (r["q_id"], r["n_id"], r["cosine"], r["rnk"])
                for r in similarity.ivf_topk(
                    self.emb, self.cents, k=s["topk"], n_queries=s["queries"],
                    n_probe=s["n_probe"],
                ).collect()
            ]

    def close(self, unit) -> None:
        pass

    def check(self, unit) -> list:
        return [
            (f"{k} rows hash-equal the numpy reference", inputs.digest(unit[k]) == self.ref[k])
            for k in ("assign", "neardup", "topk")
        ]

    def layers(self, unit, tracer, ledger, t0, t1, group) -> dict:
        sizes: dict = {}
        for _v, b in unit["assign"]:
            sizes[b] = sizes.get(b, 0) + 1
        scored = sum(m * (m - 1) // 2 for m in sizes.values())
        span = {k: tracer.named(f"ops.{k}.collect", t0)[-1] for k in ("assign", "neardup", "topk")}
        out = {f"ops.{k}_s": sp["end"] - sp["start"] for k, sp in span.items()}
        out["ops.pairs_scored"] = scored
        out["ops.pairs_kept_frac"] = len(unit["neardup"]) / scored if scored else 0.0
        nd = ledger.jobs(span["neardup"]["start"], span["neardup"]["end"])
        st = ledger.stages({s for j in nd for s in j["stages"]})
        heavy = max((s for s in st if s["tasks"] > 1), key=lambda s: s["run_s"], default=None)
        out["ops.task_skew"] = ledger.task_skew(heavy) if heavy else 0.0
        out.update(_spark_layers(ledger, ledger.jobs(t0, t1, group)))
        return out

    def trace_hooks(self, tracer: Tracer):
        from crawlspark.ops import dedup, similarity

        stack = contextlib.ExitStack()
        for mod, fn in ((similarity, "ivf_assign"), (similarity, "ivf_topk"),
                        (dedup, "embedding_neardup_ivf")):
            stack.enter_context(tracer.wrap(mod, fn, f"ops.{fn}"))
        return stack

    def replays(self, unit) -> dict:
        return {}


WORKLOADS = {w.name: w for w in (PoliteImages, AnnDedup)}
