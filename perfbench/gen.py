"""Seeded input generators for the benchmark workloads.

Each generator is a pure function of (part, seed): the same seed gives
byte-identical tables. Tables are written once per seed under
`<data_root>/<workload>/seed<seed>/<part>/` together with `meta.json`, which
records the row counts and every generator parameter (skew, division
rate, occlusion rate, fraction below min-area, ...). A later invocation
with the same seed and parameters reuses them.

The library sees only these tables: the JVM side loads them with
`graft.Tables` exactly as it loads the registry's test data.
"""
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH_US = 1704067200 * 1_000_000  # 2024-01-01T00:00:00Z
DAY_US = 86400 * 1_000_000
FILES_PER_TABLE = 8  # many-file layout, so scans split without a repartition

# Generator parameters per part. Sizes are small: on the 4-core box the
# benchmark was built on, each part's run time is set mostly by its Spark
# job count, and every invocation must fit the benchmark's time budget
# (see WORKLOADS.md).
PARAMS = {
    "cellphe_features": dict(
        tracks=1500, frames=200, len_lo=60, len_hi=140,
        short_frac=0.03, short_lo=20, short_hi=49,
        below_min_area_frac=0.10, min_area=10.0, min_obs=50,
        frame_seconds=600, y_step=5.0),
    "cellphe_tracking": dict(
        videos=120, spots=50_000, frames=60, zipf_s=0.8,
        mean_track_len=10.0, division_rate=0.05, occlusion_rate=0.03,
        occlusion_max=3, step_px=4.0, spacing_px=90.0,
        below_min_area_frac=0.10, min_area=10.0, min_obs=12),
    "store_lifecycle": dict(
        docs=2000, vocab=3000, zipf_s=1.1, doc_len_lo=30, doc_len_hi=160,
        appends=2, buckets=8, queries=2, terms_lo=1, terms_hi=3),
    "knn_graph": dict(
        vectors=500, dim=64, clusters=10, noise=0.6, insert_every=20,
        queries=30),
}

# BM25 terms of the registry's q_bm25c oracle queries: placed at fixed
# Zipf ranks so every generated corpus scores them.
REGISTRY_TERMS = {"hash": 6, "join": 11, "window": 27, "agg": 41,
                  "customer": 63, "table": 9, "scan": 19}


def _rng(workload, seed):
    return np.random.default_rng([int(seed), sorted(PARAMS).index(workload)])


def _write(table, path, files=FILES_PER_TABLE):
    """Write `table` as `files` parquet parts under directory `path`."""
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    bounds = np.linspace(0, n, files + 1).astype(int)
    for i in range(files):
        part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        pq.write_table(part, os.path.join(path, f"part-{i:05d}.parquet"))


def _props(k):
    return pa.array(['{"k": %d}' % v for v in k.tolist()], pa.string())


def _events_table(event_id, ts_us, user_id, value, k, extra=None):
    cols = {
        "event_id": pa.array(event_id, pa.int64()),
        "ts": pa.array(ts_us, pa.timestamp("us")),
        "user_id": pa.array(user_id, pa.int64()),
        "event_type": pa.array(np.full(len(event_id), "cell", dtype=object),
                               pa.string()),
        "value": pa.array(value, pa.float64()),
        "props": _props(k),
    }
    if extra:
        cols.update(extra)
    return pa.table(cols)


def gen_cellphe_features(seed, p):
    """Tracked cells in the registry's `events` shape: user_id is the track,
    event_id orders a track's frames, value is the cell area (the QC
    measure, also the registry's x), props.k is the y position."""
    rng = _rng("cellphe_features", seed)
    t = p["tracks"]
    short = rng.random(t) < p["short_frac"]
    lens = np.where(short, rng.integers(p["short_lo"], p["short_hi"] + 1, t),
                    rng.integers(p["len_lo"], p["len_hi"] + 1, t))
    start = rng.integers(0, p["frames"] - lens + 1)
    track = np.repeat(np.arange(t), lens)
    pos = np.arange(len(track)) - np.repeat(np.cumsum(lens) - lens, lens)
    frame = np.repeat(start, lens) + pos
    n = len(track)
    # area: a per-track level with multiplicative noise; a planted share
    # of observations falls below the min-area QC threshold
    level = np.repeat(rng.uniform(30.0, 300.0, t), lens)
    area = level * rng.lognormal(0.0, 0.15, n)
    below = rng.random(n) < p["below_min_area_frac"]
    area = np.where(below, rng.uniform(0.01, p["min_area"] - 0.01, n), area)
    value = np.round(np.maximum(area, 0.01), 2)
    y0 = np.repeat(rng.integers(200, 1800, t), lens)
    steps = np.round(rng.normal(0.0, p["y_step"], n)).astype(np.int64)
    steps[pos == 0] = 0
    cs = np.cumsum(steps)
    y = np.maximum(y0 + cs - np.repeat(cs[np.cumsum(lens) - lens], lens), 0)
    # rows arrive frame-major, as a tracker emits them; user ids are a
    # permutation so the track key is not sorted on disk
    uid = rng.permutation(t)[track]
    order = np.lexsort((uid, frame))
    ts = (EPOCH_US + frame * p["frame_seconds"] * 1_000_000
          + rng.integers(0, 1_000_000, n))
    table = _events_table(np.arange(n), ts[order], uid[order], value[order],
                          y[order])
    kept = (value >= p["min_area"])
    kept_per_track = np.bincount(track[kept], minlength=t)
    stats = dict(rows=int(n), tracks=int(t),
                 frac_below_min_area=float(np.mean(~kept)),
                 tracks_below_min_obs=int(np.sum(kept_per_track < p["min_obs"])))
    return {"events": table}, stats


def _zipf_sizes(total, n, s):
    w = np.arange(1, n + 1, dtype=np.float64) ** -s
    return np.maximum(np.floor(total * w / w.sum()).astype(np.int64), 1)


def gen_cellphe_tracking(seed, p):
    """Untracked spots from many videos in the `events` shape (user_id is
    the video, the day of ts is the frame, value is x, props.k is y) plus
    an `area` column. Cells per video are Zipf-skewed; tracks are short;
    divisions and occlusion gaps are planted."""
    rng = _rng("cellphe_tracking", seed)
    v, frames = p["videos"], p["frames"]
    mean_len = p["mean_track_len"]
    # cells per video so that the expected spot total is `spots`
    cells = _zipf_sizes(p["spots"] / mean_len, v, p["zipf_s"])
    vids, fr, xs, ys = [], [], [], []
    divisions = occlusions = 0
    for vid in range(v):
        nc = int(cells[vid])
        # field side keeps the mean spot spacing at spacing_px
        per_frame = max(nc * mean_len / frames, 1.0)
        side = p["spacing_px"] * np.sqrt(per_frame)
        start = rng.integers(0, frames, nc)
        length = rng.geometric(1.0 / mean_len, nc)
        x0 = rng.uniform(0, side, nc)
        y0 = rng.uniform(0, side, nc)
        divide = rng.random(nc) < p["division_rate"]
        # daughters start one frame after the parent's last frame, a few
        # pixels either side of it
        dn = int(divide.sum())
        divisions += dn
        end = np.minimum(start + length, frames)
        dstart = np.repeat(end[divide], 2)
        dlen = rng.geometric(1.0 / mean_len, 2 * dn)
        # parent's last position is approximated by its start position
        # plus the walk's expected zero drift
        dx = np.repeat(x0[divide], 2) + rng.choice([-6.0, 6.0], 2 * dn)
        dy = np.repeat(y0[divide], 2) + rng.normal(0, 2.0, 2 * dn)
        start = np.concatenate([start, dstart])
        length = np.concatenate([length, dlen])
        x0 = np.concatenate([x0, dx])
        y0 = np.concatenate([y0, dy])
        keep = start < frames
        start, length, x0, y0 = start[keep], length[keep], x0[keep], y0[keep]
        length = np.minimum(length, frames - start)
        tr = np.repeat(np.arange(len(start)), length)
        pos = np.arange(len(tr)) - np.repeat(np.cumsum(length) - length, length)
        f = np.repeat(start, length) + pos
        stepx = rng.normal(0, p["step_px"], len(tr))
        stepy = rng.normal(0, p["step_px"], len(tr))
        stepx[pos == 0] = 0.0
        stepy[pos == 0] = 0.0
        first = np.cumsum(length) - length
        cx, cy = np.cumsum(stepx), np.cumsum(stepy)
        x = np.repeat(x0, length) + cx - np.repeat(cx[first], length)
        y = np.repeat(y0, length) + cy - np.repeat(cy[first], length)
        # occlusion: a spot goes missing with some rate (gaps of up to
        # occlusion_max consecutive frames)
        occ_start = rng.random(len(tr)) < p["occlusion_rate"]
        occ_len = rng.integers(1, p["occlusion_max"] + 1, len(tr))
        hidden = np.zeros(len(tr), dtype=bool)
        for i in np.flatnonzero(occ_start):
            hidden[i:i + occ_len[i]] = True
        hidden &= pos > 0
        occlusions += int(occ_start.sum())
        sel = ~hidden
        vids.append(np.full(int(sel.sum()), vid))
        fr.append(f[sel])
        xs.append(x[sel])
        ys.append(y[sel])
    vid = np.concatenate(vids)
    frame = np.concatenate(fr)
    x = np.round(np.maximum(np.concatenate(xs), 0.0), 2)
    y = np.maximum(np.round(np.concatenate(ys)), 0).astype(np.int64)
    n = len(vid)
    area = np.round(rng.uniform(20.0, 200.0, n), 2)
    below = rng.random(n) < p["below_min_area_frac"]
    area = np.where(below, np.round(rng.uniform(1.0, p["min_area"] - 0.01, n), 2),
                    area)
    uid = rng.permutation(v)[vid]
    order = np.lexsort((rng.random(n), uid, frame))
    ts = EPOCH_US + frame * DAY_US + rng.integers(0, 3600 * 1_000_000, n)
    table = _events_table(np.arange(n), ts[order], uid[order], x[order],
                          y[order],
                          extra={"area": pa.array(area[order], pa.float64())})
    spf = np.bincount(vid, minlength=v) / frames
    stats = dict(rows=int(n), videos=int(v), cells_planted=int(cells.sum()),
                 divisions=int(divisions), occlusions=int(occlusions),
                 max_spots_per_frame=float(spf.max()),
                 median_spots_per_frame=float(np.median(spf)),
                 frac_below_min_area=float(below.mean()))
    return {"events": table}, stats


_SYL = ["ka", "lo", "mi", "ne", "ru", "ta", "vo", "zi", "pe", "su", "do",
        "fa", "gi", "ho", "ju", "be"]


def vocabulary(n):
    """A fixed vocabulary (independent of the seed): the registry terms
    at their ranks, pseudo-words elsewhere."""
    words = []
    i = 0
    while len(words) < n:
        w, j = "", i
        for _ in range(3):
            w += _SYL[j % len(_SYL)]
            j //= len(_SYL)
        words.append(w + str(i // 4096) if i >= 4096 else w)
        i += 1
    for term, rank in REGISTRY_TERMS.items():
        words[rank] = term
    return words


def gen_store_lifecycle(seed, p):
    """Documents in the `documents` shape with Zipf-distributed terms,
    plus the query workload: (query_id, text) pairs."""
    rng = _rng("store_lifecycle", seed)
    vocab = np.array(vocabulary(p["vocab"]), dtype=object)
    w = np.arange(1, p["vocab"] + 1, dtype=np.float64) ** -p["zipf_s"]
    w /= w.sum()
    n = p["docs"]
    lens = rng.integers(p["doc_len_lo"], p["doc_len_hi"] + 1, n)
    toks = rng.choice(p["vocab"], size=int(lens.sum()), p=w)
    bounds = np.concatenate([[0], np.cumsum(lens)])
    texts = [" ".join(vocab[toks[bounds[i]:bounds[i + 1]]]) for i in range(n)]
    doc_id = rng.permutation(n).astype(np.int64) + 1
    table = pa.table({
        "doc_id": pa.array(doc_id, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(np.full(n, "en", dtype=object), pa.string()),
        "source": pa.array(np.full(n, "web", dtype=object), pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    # queries draw their terms from the head of the vocabulary
    qt = rng.integers(p["terms_lo"], p["terms_hi"] + 1, p["queries"])
    head = w[:500] / w[:500].sum()
    queries = pa.table({
        "query_id": pa.array(np.arange(1, p["queries"] + 1), pa.int32()),
        "text": pa.array([" ".join(vocab[rng.choice(500, size=int(c), p=head,
                                                      replace=False)])
                          for c in qt], pa.string()),
    })
    text_bytes = int(sum(len(t.encode()) for t in texts))
    stats = dict(rows=int(n), tokens=int(lens.sum()), text_bytes=text_bytes,
                 queries=int(p["queries"]))
    return {"documents": table, "queries": queries}, stats


def gen_knn_graph(seed, p):
    """Clustered embeddings in the `embeddings` shape, plus held-out
    query vectors drawn from the same clusters."""
    rng = _rng("knn_graph", seed)
    d, c = p["dim"], p["clusters"]
    centers = rng.normal(0, 1, (c, d))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)

    def draw(m):
        lab = rng.integers(0, c, m)
        pts = centers[lab] + rng.normal(0, p["noise"] / np.sqrt(d), (m, d))
        return pts.astype(np.float32), lab.astype(np.int32)

    n, q = p["vectors"], p["queries"]
    pts, lab = draw(n)
    qpts, qlab = draw(q)

    def table(ids, v, lb):
        return pa.table({
            "vec_id": pa.array(ids, pa.int64()),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": pa.array(lb, pa.int32()),
        })
    ids = rng.permutation(n).astype(np.int64)
    stats = dict(rows=int(n), dim=int(d), clusters=int(c), queries=int(q),
                 insert_rows=int(np.sum(ids % p["insert_every"] == 0)))
    return {"embeddings": table(ids, pts, lab),
            "queries": table(np.arange(n, n + q, dtype=np.int64), qpts, qlab)}, stats


GENERATORS = {
    "cellphe_features": gen_cellphe_features,
    "cellphe_tracking": gen_cellphe_tracking,
    "store_lifecycle": gen_store_lifecycle,
    "knn_graph": gen_knn_graph,
}

# each workload runs several parts, every part on its own tables
WORKLOADS = {
    "cellphe": ["cellphe_tracking", "cellphe_features"],
    "index_lifecycle": ["store_lifecycle", "knn_graph"],
}


def generate(workload, seed, data_root):
    """Write (or reuse) the seed's tables, one directory per part of the
    workload; return (dir, meta)."""
    params = {part: PARAMS[part] for part in WORKLOADS[workload]}
    out = os.path.join(data_root, workload, f"seed{seed}")
    meta_path = os.path.join(out, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            meta = json.load(f)
        if meta.get("params") == params:
            return out, meta
    shutil.rmtree(out, ignore_errors=True)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    sizes = {}
    for part in WORKLOADS[workload]:
        tables, sizes[part] = GENERATORS[part](seed, params[part])
        for name, t in tables.items():
            _write(t, os.path.join(tmp, part, f"{name}.parquet"),
                   files=FILES_PER_TABLE if t.num_rows > 10_000 else 1)
    meta = dict(workload=workload, seed=int(seed), params=params, sizes=sizes,
                rows=sum(s["rows"] for s in sizes.values()))
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump(meta, f, indent=1, sort_keys=True)
    os.replace(tmp, out)
    return out, meta
