"""Seeded z21 city generator for the city workloads, and the checks of
the harness's outputs against answers computed here, independently of
the program (plain union-find over the generated positive tiles).

A city is a grid of inference-scored tiles. Solar farms are compact
rectangles or long one-to-two-tile corridors, with some tiles missing;
scattered single-tile false positives sit between them. Some farms
already carry an OpenStreetMap node (mapped farms), and some nodes sit
elsewhere.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SHIFT = 1 << 32          # the program's packed id: x * 2^32 + y
X0, Y0 = 1_100_000, 760_000  # z21 tile offsets of the generated area
THRESHOLD = 0.5


# ---------------------------------------------------------------- inputs

def farm_mask(rng, w, h, corridor_frac, density, noise):
    """Boolean positive grid (w, h) and the farm rectangles placed."""
    pos = np.zeros((w, h), dtype=bool)
    farms = []
    covered = 0
    while covered < density * w * h:
        if rng.random() < corridor_frac:
            length, width = int(rng.integers(20, 160)), int(rng.integers(1, 3))
            a, b = (length, width) if rng.random() < 0.5 else (width, length)
        else:
            a, b = int(rng.integers(2, 15)), int(rng.integers(2, 15))
        a, b = min(a, w - 1), min(b, h - 1)
        x, y = int(rng.integers(0, w - a)), int(rng.integers(0, h - b))
        block = rng.random((a, b)) >= 0.08  # missed tiles inside a farm
        pos[x:x + a, y:y + b] |= block
        farms.append((x, y, a, b))
        covered += a * b
    pos |= rng.random((w, h)) < noise
    return pos, farms


def scores(rng, pos):
    """Inference scores: positives at or above the threshold, the rest
    below it."""
    return np.where(pos, THRESHOLD + 0.5 * rng.random(pos.shape),
                    0.49 * rng.random(pos.shape))


def nodes_for(rng, pos, farms, w, h):
    """OSM nodes: one on a positive tile of about a third of the farms,
    plus one scattered node per 4,000 tiles."""
    pts = []
    for (x, y, a, b) in farms:
        if rng.random() < 0.35:
            cells = np.argwhere(pos[x:x + a, y:y + b])
            if len(cells):
                cx, cy = cells[int(rng.integers(0, len(cells)))]
                pts.append((x + cx, y + cy))
    for _ in range(max(1, w * h // 4000)):
        pts.append((int(rng.integers(0, w)), int(rng.integers(0, h))))
    arr = np.array(pts, dtype=np.int64).reshape(-1, 2)
    return arr[:, 0] + X0, arr[:, 1] + Y0


def write_tiles(path, xs, ys, softmax, has_image):
    pq.write_table(pa.table({
        "x": pa.array(xs, pa.int64()), "y": pa.array(ys, pa.int64()),
        "panel_softmax": pa.array(softmax, pa.float64()),
        "has_image": pa.array(has_image, pa.bool_())}), path)


def grid_columns(w, h, x_off=0):
    gx, gy = np.meshgrid(np.arange(w, dtype=np.int64), np.arange(h, dtype=np.int64),
                         indexing="ij")
    return (gx.ravel() + X0 + x_off), (gy.ravel() + Y0)


# -------------------------------------------------------------- answers

def components(xs, ys):
    """4-connected components of the cells (xs, ys): the label of each
    cell is the smallest packed id in its component."""
    n = len(xs)
    if n == 0:
        return np.zeros(0, dtype=np.int64)
    packed = xs * SHIFT + ys
    index = {p: i for i, p in enumerate(packed.tolist())}
    parent = list(range(n))

    def find(i):
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    for i in range(n):
        p = int(packed[i])
        for q in (p + SHIFT, p + 1):  # +x and +y neighbors
            j = index.get(q)
            if j is not None:
                ri, rj = find(i), find(j)
                if ri != rj:
                    parent[max(ri, rj)] = min(ri, rj)
    roots = np.fromiter((find(i) for i in range(n)), dtype=np.int64, count=n)
    lab = np.full(n, np.iinfo(np.int64).max, dtype=np.int64)
    np.minimum.at(lab, roots, packed)
    return lab[roots]


def boundary_edges(cells):
    """Unit boundary edges of one label's tile set {packed id}."""
    inner = sum((p + SHIFT in cells) + (p + 1 in cells) for p in cells)
    return 4 * len(cells) - 2 * inner


# ------------------------------------------------------------ city_bulk

# Each run holds the same mix of cities: one stratum per city (side,
# corridor share of the farms, farm density, false-positive rate). The
# seed places the farms and jitters each stratum's shape and rates by up
# to 10%; sizes stay fixed, because an operation's time is mostly fixed
# cost and a size jitter would swing tiles per second with it. The first
# city is the run's warm-up operation.
BULK_STRATA = [(256, 0.5, 0.10, 0.005), (512, 0.2, 0.08, 0.008),
               (640, 0.8, 0.12, 0.004), (768, 0.5, 0.16, 0.003)]


def jitter(rng, v, rel=0.1):
    return v * rng.uniform(1 - rel, 1 + rel)


def bulk_inputs(seed, root):
    """Writes the cities and returns the answers for each."""
    rng = np.random.default_rng(seed)
    expected = {}
    with open(os.path.join(root, "manifest.txt"), "w") as man:
        for i, (side, corridor, density, noise) in enumerate(BULK_STRATA):
            w = h = side
            pos, farms = farm_mask(rng, w, h, corridor_frac=jitter(rng, corridor),
                                   density=jitter(rng, density), noise=jitter(rng, noise))
            name = f"c{i}"
            d = os.path.join(root, name)
            os.makedirs(d)
            xs, ys = grid_columns(w, h)
            has_image = rng.random(w * h) < 0.85
            write_tiles(os.path.join(d, "tiles.parquet"), xs, ys,
                        scores(rng, pos).ravel(), has_image)
            nx, ny = nodes_for(rng, pos, farms, w, h)
            pq.write_table(pa.table({"x": pa.array(nx, pa.int64()),
                                     "y": pa.array(ny, pa.int64())}),
                           os.path.join(d, "nodes.parquet"))
            man.write(f"{name} {w * h}\n")
            expected[name] = bulk_answer(pos.ravel(), xs, ys, has_image, nx, ny)
    return expected


def bulk_answer(pos, xs, ys, has_image, nx, ny):
    px, py = xs[pos], ys[pos]
    lab = components(px, py)
    ids, sizes = np.unique(lab, return_counts=True)
    top = sorted(zip(ids.tolist(), sizes.tolist()), key=lambda t: (-t[1], t[0]))[:10]
    # imagery cleanup: imaged tiles outside the 3x3 dilation of positives
    pset = set((px * SHIFT + py).tolist())
    near = set()
    for p in pset:
        for dx in (-1, 0, 1):
            for dy in (-1, 0, 1):
                near.add(p + dx * SHIFT + dy)
    img = (xs * SHIFT + ys)[has_image]
    cleanup = np.sort(img[~np.isin(img, np.fromiter(near, dtype=np.int64))])
    # unmapped: clusters none of whose tiles holds an OSM node
    label_of = dict(zip((px * SHIFT + py).tolist(), lab.tolist()))
    mapped = {label_of[p] for p in (nx * SHIFT + ny).tolist() if p in label_of}
    unmapped = sorted(set(ids.tolist()) - mapped)
    by_label = {}
    for p, l in label_of.items():
        by_label.setdefault(l, set()).add(p)
    edges = {l: boundary_edges(by_label[l]) for l in unmapped}
    order = np.argsort(px * SHIFT + py)
    return {"labels": (px * SHIFT + py)[order], "label": lab[order], "top": top,
            "cleanup": cleanup, "unmapped": unmapped, "edges": edges}


# ----------------------------------------------------- city_incremental

BATCH_COLS = 12
N_BATCHES = 40


def incremental_inputs(seed, root):
    """Writes the base city and the batches. Batch j scores a new strip
    of columns next to the area scored so far, plus re-scored tiles of
    earlier areas, which the insert-or-ignore merge must drop. The seed
    sets farm placement, and jitters the corridor share of the farms,
    farm density and false-positive rate by up to 10%; sizes stay fixed.
    Returns the state the answers are replayed from."""
    rng = np.random.default_rng(seed)
    h = w0 = 256
    w = w0 + BATCH_COLS * N_BATCHES
    pos, _ = farm_mask(rng, w, h, corridor_frac=jitter(rng, 0.5),
                       density=jitter(rng, 0.1), noise=jitter(rng, 0.005))
    sm = scores(rng, pos)
    img = rng.random((w, h)) < 0.85
    xs, ys = grid_columns(w0, h)
    write_tiles(os.path.join(root, "base.parquet"), xs, ys,
                sm[:w0].ravel(), img[:w0].ravel())
    base_pos = pos[:w0].ravel()
    bx, by = xs[base_pos], ys[base_pos]
    steps = []
    table = w0 * h
    with open(os.path.join(root, "manifest.txt"), "w") as man:
        for j in range(N_BATCHES):
            c0 = w0 + j * BATCH_COLS
            sx, sy = grid_columns(BATCH_COLS, h, x_off=c0)
            ssm = sm[c0:c0 + BATCH_COLS].ravel()
            simg = img[c0:c0 + BATCH_COLS].ravel()
            # re-scored tiles from the area already in the table
            k = len(sx) // 10
            rx = rng.integers(0, c0, k) + X0
            ry = rng.integers(0, h, k) + Y0
            keep = np.unique(rx * SHIFT + ry, return_index=True)[1]
            rx, ry = rx[keep], ry[keep]
            rsm = rng.random(len(rx))
            rimg = rng.random(len(rx)) < 0.5
            bxs, bys = np.concatenate([sx, rx]), np.concatenate([sy, ry])
            perm = rng.permutation(len(bxs))
            name = f"b{j:03d}"
            write_tiles(os.path.join(root, name + ".parquet"), bxs[perm], bys[perm],
                        np.concatenate([ssm, rsm])[perm], np.concatenate([simg, rimg])[perm])
            man.write(f"{name} {len(bxs)}\n")
            table += len(sx)
            new = ssm >= THRESHOLD
            steps.append((sx[new], sy[new], table))
    return {"base": (bx, by), "steps": steps}


class Labels:
    """Cluster labels by packed cell, with each label's cell set."""

    def __init__(self, xs, ys):
        packed = (xs * SHIFT + ys).tolist()
        self.of = dict(zip(packed, components(xs, ys).tolist()))
        self.cells = {}
        for p, l in self.of.items():
            self.cells.setdefault(l, set()).add(p)

    def step(self, nx, ny):
        """Applies one batch's new positives the way the program's
        incremental clustering defines it: a new component adopts the
        smallest id of the existing clusters it touches, otherwise it
        gets max id + its rank among the fresh components. Returns
        {touched cluster: boundary edges}."""
        tmp = components(nx, ny).tolist()
        max_id = max(self.cells, default=0)
        packed = (nx * SHIFT + ny).tolist()
        adopt = {}
        for p, t in zip(packed, tmp):
            for q in (p + SHIFT, p - SHIFT, p + 1, p - 1):
                e = self.of.get(q)
                if e is not None and (t not in adopt or e < adopt[t]):
                    adopt[t] = e
        rank = {t: i + 1 for i, t in enumerate(sorted(set(tmp) - set(adopt)))}
        touched = set()
        for p, t in zip(packed, tmp):
            cid = adopt[t] if t in adopt else max_id + rank[t]
            self.of[p] = cid
            self.cells.setdefault(cid, set()).add(p)
            touched.add(cid)
        return {l: boundary_edges(self.cells[l]) for l in touched}

    def digest(self):
        keys = np.fromiter(self.of.keys(), dtype=np.int64, count=len(self.of))
        vals = np.fromiter(self.of.values(), dtype=np.int64, count=len(self.of))
        return labels_digest(keys, vals)


def labels_digest(keys, vals):
    """Order-free digest of a (packed cell -> label) map."""
    k = keys.astype(np.uint64)
    v = vals.astype(np.uint64)
    with np.errstate(over="ignore"):
        h = (k * np.uint64(0x9E3779B97F4A7C15)) ^ (v * np.uint64(0xC2B2AE3D27D4EB4F))
        h ^= h >> np.uint64(29)
    return (int(np.bitwise_xor.reduce(h)) if len(h) else 0), int(len(h))


# ---------------------------------------------------------------- checks

def read_labels(path):
    t = pq.read_table(path)
    x = t.column("x").to_numpy().astype(np.int64)
    y = t.column("y").to_numpy().astype(np.int64)
    c = t.column("cluster_id").to_numpy().astype(np.int64)
    return x * SHIFT + y, c


def read_challenge(path):
    """{cluster_id: total ring vertices} of a challenge file set; rings
    are not closed, so a ring has as many vertices as edges."""
    out = {}
    for f in sorted(os.listdir(path)):
        if f.startswith((".", "_")):
            continue
        with open(os.path.join(path, f)) as fh:
            for line in fh:
                if line.strip():
                    feat = json.loads(line)
                    cid = feat["properties"]["cluster_id"]
                    if cid in out:
                        raise ValueError(f"cluster {cid} has two challenge lines")
                    out[cid] = sum(len(r) for r in feat["geometry"]["coordinates"])
    return out


def check_bulk(result, expected):
    """Returns (operation id, reason) for each wrong city operation."""
    wrong = []
    for run in result["checks"].get("runs", []):
        exp = expected[run["city"]]
        keys, lab = read_labels(os.path.join(run["out"], "labels"))
        o = np.argsort(keys)
        cleanup = pq.read_table(os.path.join(run["out"], "cleanup"))
        ck = (cleanup.column("x").to_numpy().astype(np.int64) * SHIFT
              + cleanup.column("y").to_numpy().astype(np.int64))
        if not (np.array_equal(keys[o], exp["labels"]) and np.array_equal(lab[o], exp["label"])):
            why = "cluster labels differ"
        elif [tuple(t) for t in run["top"]] != [tuple(t) for t in exp["top"]]:
            why = "cluster ranking differs"
        elif sorted(run["unmapped"]) != exp["unmapped"]:
            why = "unmapped clusters differ"
        elif not np.array_equal(np.sort(ck), exp["cleanup"]):
            why = "imagery cleanup differs"
        elif read_challenge(os.path.join(run["out"], "challenge")) != exp["edges"]:
            why = "challenge lines differ"
        else:
            continue
        wrong.append((run["op"], f"{run['out']}: {why}"))
    return wrong


def check_incremental(result, state):
    """Replays the batches the harness completed and returns (operation
    id, reason) for each wrong one; a wrong final state counts against the
    last batch."""
    wrong = []
    labels = Labels(*state["base"])
    done = result["checks"].get("batches", [])
    for b, (nx, ny, _) in zip(done, state["steps"]):
        expected = labels.step(nx, ny)
        got = read_challenge(os.path.join(b["out"], "challenge"))
        if got != expected:
            wrong.append((b["op"], f"challenge lines differ "
                                      f"({len(got)} clusters, expected {len(expected)})"))
    if done:
        keys, lab = read_labels(result["checks"]["final_labels"])
        last = done[-1]["op"]
        if labels_digest(keys, lab) != labels.digest():
            wrong.append((last, "final cluster labels differ"))
        rows = state["steps"][len(done) - 1][2]
        if result["checks"]["table_rows"] != rows:
            wrong.append((last, f"table holds {result['checks']['table_rows']} rows, "
                                f"expected {rows}"))
    return wrong
