"""Seeded input generation for the benchmark workloads.

Every input is a pure function of (workload shape, seed): host names,
which host is hot, robots bodies, page text, image captions and the
embedding corpus all come from one ``numpy`` generator seeded with the
run's ``--seed``. Inputs are written once per (workload, seed,
generator fingerprint) under the checkout's ``.perfbench/cache`` and
reused; the fingerprint hashes this file and the shape, so an edited
generator never serves stale inputs.

The crawler only ever sees the generated parquet tables. The expected
outputs (fetch counts, the IVF/near-dup/top-k rows) are computed here
from the same seed with plain Python and numpy, never by the program.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from decimal import ROUND_HALF_UP, Decimal

import numpy as np

_WORDS = (
    "crawl", "frontier", "wave", "robots", "anchor", "harbor", "meadow",
    "signal", "lattice", "river", "garden", "copper", "orbit", "canyon",
    "glacier", "market", "lantern", "quartz", "summit", "willow",
)


def fingerprint(shape: dict) -> str:
    with open(__file__, "rb") as f:
        src = f.read()
    h = hashlib.sha256(src)
    h.update(json.dumps(shape, sort_keys=True).encode())
    return h.hexdigest()[:12]


def cached(cache_root: str, workload: str, seed: int, shape: dict, build) -> str:
    """Directory holding the inputs for (workload, seed, fingerprint);
    ``build(tmp_dir)`` writes them on a miss. The rename makes a
    half-written directory impossible to reuse."""
    d = os.path.join(cache_root, f"{workload}-s{seed}-{fingerprint(shape)}")
    if os.path.exists(os.path.join(d, "meta.json")):
        return d
    tmp = d + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    meta = build(tmp)
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump(meta, f)
    shutil.rmtree(d, ignore_errors=True)
    os.replace(tmp, d)
    return d


def _write(path: str, rows: dict, spark_schema) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = to_arrow_schema(spark_schema)
    pq.write_table(pa.Table.from_pydict(rows, schema=schema), path)


# ---------------------------------------------------------------- web


def _page_ids(b: int, depth: int) -> list[str]:
    ids, frontier = [""], [""]
    for _ in range(depth):
        frontier = [(f"{p}.{e}" if p else str(e)) for p in frontier for e in range(b)]
        ids.extend(frontier)
    return ids


def expected_fetched(n_hosts: int, branching: int, depth: int, hot: int) -> int:
    """Every page is reachable and allowed, so the crawl fetches each
    host's full tree: 1 + b + ... + b^depth pages, b tripled (``hot``)
    on the one hot host."""
    tree = lambda b: sum(b**d for d in range(depth + 1))  # noqa: E731
    return (n_hosts - 1) * tree(branching) + tree(branching * hot)


_ROBOTS = (
    "User-agent: *\nAllow: /\n",
    "User-agent: *\nDisallow: /private\nDisallow: /*.pdf$\n",
    "User-agent: Crawler\nDisallow: /admin/\nAllow: /admin/public\n\nUser-agent: *\nDisallow: /\n",
    "User-agent: *\nDisallow: /tmp/\nDisallow: /cgi-bin/\nAllow: /cgi-bin/ok\n",
)


def _render(rng, host: str, pid: str, b: int, depth: int, img: str | None) -> str:
    """A page of ``host``: links to its b children (odd ones
    rel=nofollow), back to the root and to its parent (so dedup has
    real duplicates to drop), a canonical, hreflang alternates, and
    seeded body text of varying length."""
    level = pid.count(".") + 1 if pid else 0
    links = []
    if level < depth:
        for e in range(b):
            child = f"{pid}.{e}" if pid else str(e)
            rel = ' rel="nofollow"' if e % 2 else ""
            links.append(f'<a href="/{child}"{rel}>Child {e}</a>')
    links.append('<a href="/">Home</a>')
    if pid:
        parent = pid.rsplit(".", 1)[0] if "." in pid else ""
        links.append(f'<a href="/{parent}#top">Up</a>')
    words = rng.choice(len(_WORDS), size=int(rng.integers(20, 120)))
    text = " ".join(_WORDS[i] for i in words)
    figure = f'<figure><img src="/img/{pid}.qjpg" alt="{img}"></figure>' if img else ""
    name = pid or "root"
    return (
        "<!DOCTYPE html>\n<html lang=\"en\">\n<head>\n"
        f"<title>{host} {name}</title>\n"
        f'<meta name="description" content="Page {name} of {host}." />\n'
        '<meta name="robots" content="index, follow" />\n'
        f'<link rel="canonical" href="http://{host}/{pid}" />\n'
        f'<link rel="alternate" href="/{pid}" hreflang="en" />\n'
        f'<link rel="alternate" href="/{pid}?lang=de" hreflang="de" />\n'
        "</head>\n<body>\n"
        f"<h1>Page {name}</h1>\n<p>{text}</p>\n{figure}\n"
        + "\n".join(links)
        + "\n</body>\n</html>\n"
    )


def build_web(out: str, seed: int, shape: dict) -> dict:
    """pages.parquet, robots.parquet, images.parquet and captions.json
    for a seeded synthetic web where every non-root page carries an
    image; returns meta with the seed URLs and the expected fetch
    count."""
    from crawlspark import imagecodec
    from crawlspark.schema import IMAGE_SCHEMA, PAGE_SCHEMA, ROBOTS_FIXTURE_SCHEMA

    rng = np.random.default_rng(seed)
    n, b, depth, hot = shape["hosts"], shape["branching"], shape["depth"], shape["hot"]
    tag = rng.integers(1 << 32)
    hosts = [f"h{tag:08x}-{k:04d}.bench.test" for k in range(n)]
    hot_k = int(rng.integers(n))
    pages: dict = {f.name: [] for f in PAGE_SCHEMA.fields}
    images: dict = {f.name: [] for f in IMAGE_SCHEMA.fields}
    captions = {}
    side = shape["image_px"]
    for k, host in enumerate(hosts):
        hb = b * hot if k == hot_k else b
        for pid in _page_ids(hb, depth):
            img = f"{host}/{pid}" if pid else None
            pages["url"].append(f"http://{host}/{pid}")
            pages["status_code"].append(200)
            pages["status"].append("200 OK")
            pages["proto"].append("HTTP/1.1")
            pages["proto_major"].append(1)
            pages["proto_minor"].append(1)
            pages["content_type"].append("text/html; charset=utf-8")
            pages["location"].append(None)
            pages["headers"].append(
                [{"K": "Content-Type", "V": "text/html; charset=utf-8"},
                 {"K": "X-Page-Id", "V": pid or "/"}]
            )
            pages["html"].append(_render(rng, host, pid, hb, depth, img))
            pages["image_id"].append(img)
            if img:
                # the payload check decodes against the program's own
                # synthetic truth, so the bytes must encode it; the
                # caption is ours, so caption equality is a real check
                arr = imagecodec.synth_image(img, side, side)
                cap = " ".join(_WORDS[i] for i in rng.choice(len(_WORDS), size=6)) + f" #{img}"
                captions[img] = cap
                images["image_id"].append(img)
                images["bytes"].append(imagecodec.encode(arr, "qjpg"))
                images["w"].append(side)
                images["h"].append(side)
                images["fmt"].append("qjpg")
                images["caption"].append(cap)
                images["phash"].append(int(rng.integers(-(1 << 62), 1 << 62)))
    _write(os.path.join(out, "pages.parquet"), pages, PAGE_SCHEMA)
    robots = {
        "host": hosts,
        "scheme": ["http"] * n,
        "status_code": [200] * n,
        # rule sets that never block a linked page: the one with a
        # catch-all Disallow has a Crawler group that takes precedence
        "body": [_ROBOTS[int(i)] for i in rng.integers(len(_ROBOTS), size=n)],
    }
    _write(os.path.join(out, "robots.parquet"), robots, ROBOTS_FIXTURE_SCHEMA)
    _write(os.path.join(out, "images.parquet"), images, IMAGE_SCHEMA)
    with open(os.path.join(out, "captions.json"), "w") as f:
        json.dump(captions, f)
    return {
        "seeds": [f"http://{h}/" for h in hosts],
        "hosts": hosts,
        "hot_host": hosts[hot_k],
        "pages": len(pages["url"]),
        "expected_fetched": expected_fetched(n, b, depth, hot),
    }


# ---------------------------------------------------------------- ann


def spark_round(x: float, places: int) -> float:
    """Spark's ``round`` on a double: HALF_UP on the decimal string."""
    q = Decimal(1).scaleb(-places)
    return float(Decimal(repr(float(x))).quantize(q, rounding=ROUND_HALF_UP))


def _fold_dot(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Row-wise dot products as a left fold over the elements, the
    summation order of Spark's ``aggregate(zip_with(...))``."""
    return np.cumsum(a * b, axis=-1)[..., -1]


def _round_all(vals: np.ndarray, places: int) -> np.ndarray:
    return np.vectorize(lambda x: spark_round(x, places), otypes=[np.float64])(vals)


def build_ann(out: str, seed: int, shape: dict) -> dict:
    """emb.parquet (vec_id, embedding float[64]) clustered around
    seeded centroids, with planted near-duplicates; centroids.parquet;
    and the expected rows of ivf_assign, embedding_neardup_ivf and
    ivf_topk computed here in numpy."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    n, dim, k = shape["vectors"], shape["dim"], shape["centroids"]
    centers = rng.normal(size=(k, dim)).astype(np.float32)
    member = rng.integers(k, size=n)
    emb = (centers[member] + rng.normal(scale=shape["spread"], size=(n, dim))).astype(np.float32)
    n_dup = int(n * shape["dup_frac"])
    src = rng.choice(n, size=n_dup, replace=False)
    dst = rng.choice(np.setdiff1d(np.arange(n), src), size=n_dup, replace=False)
    emb[dst] = (emb[src] + rng.normal(scale=0.02, size=(n_dup, dim))).astype(np.float32)
    pq.write_table(
        pa.table({"vec_id": pa.array(np.arange(n, dtype=np.int64)),
                  "embedding": pa.array(list(emb), type=pa.list_(pa.float32()))}),
        os.path.join(out, "emb.parquet"),
    )
    pq.write_table(
        pa.table({"centroid_id": pa.array(np.arange(k, dtype=np.int32)),
                  "center": pa.array(list(centers), type=pa.list_(pa.float32()))}),
        os.path.join(out, "centroids.parquet"),
    )
    ref = ann_reference(emb, centers, shape)
    with open(os.path.join(out, "ref.json"), "w") as f:
        json.dump(ref, f)
    return {"vectors": n, "pairs_scored": ref["pairs_scored"]}


def ann_reference(emb: np.ndarray, centers: np.ndarray, shape: dict) -> dict:
    v = emb.astype(np.float64)
    c = centers.astype(np.float64)
    vn = np.sqrt(_fold_dot(v, v))
    cn = np.sqrt(_fold_dot(c, c))
    ccos = _fold_dot(v[:, None, :], c[None, :, :]) / (vn[:, None] * cn[None, :])
    ccos = _round_all(ccos, 6)
    # argmax of the rounded score, ties to the lower centroid id
    bucket = np.argmax(ccos, axis=1)
    assign = sorted((int(i), int(bucket[i])) for i in range(len(v)))

    thr = shape["threshold"]
    pairs, scored = [], 0
    for b in range(len(c)):
        ids = np.flatnonzero(bucket == b)
        m = len(ids)
        scored += m * (m - 1) // 2
        if m < 2:
            continue
        iu, ju = np.triu_indices(m, 1)
        cos = _fold_dot(v[ids[iu]], v[ids[ju]]) / (vn[ids[iu]] * vn[ids[ju]])
        near = np.flatnonzero(cos >= thr - 1e-3)
        for t in near:
            r = spark_round(cos[t], 4)
            if r >= thr:
                pairs.append((int(ids[iu[t]]), int(ids[ju[t]]), r))
    pairs.sort(key=lambda p: (-p[2], p[0], p[1]))

    topk = []
    kk, n_probe = shape["topk"], shape["n_probe"]
    for q in range(shape["queries"]):
        order = sorted(range(len(c)), key=lambda j: (-ccos[q, j], j))[:n_probe]
        cand = np.flatnonzero(np.isin(bucket, order) & (np.arange(len(v)) != q))
        cos = _fold_dot(v[cand], v[q][None, :]) / (vn[cand] * vn[q])
        # the 4-place rounding decides the ranking, so round every
        # candidate (the candidate sets are small)
        rc = [(spark_round(x, 4), int(i)) for x, i in zip(cos, cand)]
        rc.sort(key=lambda t: (-t[0], t[1]))
        topk.extend((q, i, x, r + 1) for r, (x, i) in enumerate(rc[:kk]))
    return {
        "assign": digest(assign),
        "neardup": digest(pairs),
        "topk": digest(topk),
        "n_assign": len(assign),
        "n_neardup": len(pairs),
        "n_topk": len(topk),
        "pairs_scored": scored,
    }


def digest(rows) -> str:
    """Order-sensitive hash of result rows (ints and floats by repr)."""
    h = hashlib.sha256()
    for r in rows:
        h.update(repr(tuple(r)).encode())
    return h.hexdigest()
