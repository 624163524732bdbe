"""Profile the shape of a catalog of input tables, to compare the
generator's output with the fixture tables it imitates.

    python3 perfbench/shape.py DIR [DIR ...]            # existing catalogs
    python3 perfbench/shape.py --generate 0.1 --seed 1  # gen.py's output

Prints one JSON object per catalog: row counts, and the figures the
workloads depend on (users and span of the event stream, document lengths
and duplicate rates, embedding structure, key cardinalities).
"""

from __future__ import annotations

import argparse
import collections
import json
import os
import shutil
import sys

import numpy as np
import pyarrow.compute as pc
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events", "documents", "embeddings")


def profile(d: str) -> dict:
    read = lambda t: pq.read_table(os.path.join(d, f"{t}.parquet"))  # noqa: E731
    out = {"rows": {t: pq.ParquetFile(os.path.join(d, f"{t}.parquet")).metadata.num_rows for t in TABLES}}

    ev = read("events")
    ts = ev.column("ts").cast("int64").to_numpy()
    value = ev.column("value").to_numpy()
    users = len(pc.unique(ev.column("user_id")))
    out["events"] = {
        "users": users,
        "events_per_user": round(ev.num_rows / users, 1),
        "span_days": round((ts.max() - ts.min()) / 86_400e6, 2),
        "sorted": bool((np.diff(ts) >= 0).all()),
        "value_mean": round(float(value.mean()), 2),
        "value_median": round(float(np.median(value)), 2),
        "event_types": len(pc.unique(ev.column("event_type"))),
    }

    texts = read("documents").column("text").to_pylist()
    words = np.array([len(t.split()) for t in texts])
    chars = np.array([len(t) for t in texts])
    counts = collections.Counter(texts)
    dup = [t for t in texts if t.endswith(" dup")]
    present = set(texts)
    langs = collections.Counter(read("documents").column("lang").to_pylist())
    out["documents"] = {
        "words_min_median_max": [int(words.min()), float(np.median(words)), int(words.max())],
        "chars_median": float(np.median(chars)),
        "vocabulary": len({w for t in texts for w in t.split()}),
        "dup_suffix_frac": round(len(dup) / len(texts), 4),
        # a " dup" copy whose source text is still present: a near-duplicate pair
        "dup_with_source_frac": round(sum(t[:-4] in present for t in dup) / len(texts), 4),
        "exact_duplicate_frac": round((len(texts) - len(counts)) / len(texts), 4),
        "lang_frac": {k: round(v / len(texts), 3) for k, v in sorted(langs.items())},
    }

    emb = read("embeddings")
    vecs = np.array(emb.column("embedding").to_pylist(), dtype=np.float64)
    labels = emb.column("label").to_numpy()
    unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    # norm of each label's mean unit vector, times sqrt(class size): ~1 when
    # labels are independent of the vectors, much larger when they cluster
    cluster = [np.linalg.norm(unit[labels == k].mean(0)) * np.sqrt((labels == k).sum()) for k in np.unique(labels)]
    out["embeddings"] = {
        "dim": int(vecs.shape[1]),
        "norm_min_max": [round(float(x), 6) for x in (np.linalg.norm(vecs, axis=1).min(), np.linalg.norm(vecs, axis=1).max())],
        "labels": int(len(np.unique(labels))),
        "label_cluster_score": round(float(np.mean(cluster)), 2),
    }

    li, orders, part = read("lineitem"), read("orders"), read("part")
    out["star"] = {
        "lineitem_distinct_orderkey_frac": round(len(pc.unique(li.column("l_orderkey"))) / orders.num_rows, 4),
        "orders_distinct_custkey_frac": round(len(pc.unique(orders.column("o_custkey"))) / out["rows"]["customer"], 4),
        "part_distinct_names": len(pc.unique(part.column("p_name"))),
        "shipdate_distinct_days": len(pc.unique(li.column("l_shipdate"))),
        "orderdate_distinct_days": len(pc.unique(orders.column("o_orderdate"))),
    }
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("dirs", nargs="*")
    ap.add_argument("--generate", type=float, action="append", default=[], help="profile gen.py's catalog at this scale")
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    here = os.path.dirname(os.path.abspath(__file__))
    sys.path.insert(0, here)
    import gen

    for d in args.dirs:
        print(json.dumps({"catalog": os.path.basename(os.path.normpath(d)), **profile(d)}))
    for scale in args.generate:
        d = os.path.join(os.path.dirname(here), ".perfbench_run", f"shape-{scale}-{args.seed}")
        try:
            gen.write_catalog(d, args.seed, scale)
            print(json.dumps({"catalog": f"gen scale {scale} seed {args.seed}", **profile(d)}))
        finally:
            shutil.rmtree(d, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
