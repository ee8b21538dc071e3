"""Shape statistics of a directory of benchmark inputs.

    python3 perfbench/shape.py DIR [DIR ...]

Prints, for each directory, the figures that decide how much work the
workloads do: rows and bytes per table, and the distributions the
generator imitates (event days, users and types; document lengths,
vocabulary, duplicate and PII rates; embedding size and labels). Run it
on a reference data directory and on ``gen.py``'s output to compare
the two; ``README.md`` records such a comparison.

``SF01`` holds the figures measured on the engine's sf0.1 reference
test data, which ``gen.py`` imitates at ``scale=1.0``;
``differences`` lists where a shape departs from them.
"""

from __future__ import annotations

import json
import os
import re
import sys
from collections import Counter

import numpy as np
import pyarrow.compute as pc
import pyarrow.parquet as pq

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]
# what a PII scrubber looks for: e-mail addresses, digit runs (phones,
# card and ID numbers), and URLs
PII = re.compile(r"[\w.+-]+@[\w-]+\.\w|\d{3,}|https?://")


# shape(<sf0.1 reference data>), without the byte counts
SF01 = {
    "rows": {
        "region": 5, "nation": 25, "customer": 15000, "supplier": 1000,
        "part": 20000, "orders": 150000, "lineitem": 600000,
        "events": 100000, "documents": 5000, "embeddings": 2000,
    },
    "events": {
        "ts_type": "timestamp[us]",
        "days": 30,
        "per_day_min_max": [3205, 3471],
        "users": 1500,
        "per_user_q10_50_90": [56.0, 66.0, 78.0],
        "type_share_min_max": [0.198, 0.203],
        "value_q10_50_90": [5.35, 34.77, 114.3],
        "distinct_props": 100,
    },
    "documents": {
        "tokens_q10_50_90": [19.0, 54.0, 90.0],
        "tokens_min_max": [10, 100],
        "chars_mean": 297.1,
        "vocabulary": 31,
        "exact_dup_rate": 0.0016,
        "near_dup_rate": 0.0486,
        "pii_rate": 0.0,
        "en_share": 0.412,
        "langs": 5,
        "sources": 20,
    },
    "embeddings": {
        "dims": 64,
        "norm_min_max": [1.0, 1.0],
        "labels": 10,
        "label_share_max": 0.109,
    },
}


def differences(got: dict, ref: dict = SF01, rel: float = 0.1, abs_: float = 0.01) -> list[str]:
    """Figures of ``ref`` that ``got`` misses: a number by more than
    ``rel`` of it and more than ``abs_``, anything else when unequal."""
    out = []
    for sec, figs in ref.items():
        for k, want in figs.items():
            have = got.get(sec, {}).get(k)
            pairs = list(zip(have, want)) if isinstance(want, list) and have else [(have, want)]
            for h, w in pairs:
                if isinstance(w, (int, float)) and isinstance(h, (int, float)):
                    ok = abs(h - w) <= max(rel * abs(w), abs_)
                else:
                    ok = h == w
                if not ok:
                    out.append(f"{sec}.{k}: {have} vs {want}")
                    break
    return out


def _q(values, qs=(0.1, 0.5, 0.9)) -> list[float]:
    return [round(float(v), 2) for v in np.quantile(values, qs)]


def shape(data_dir: str) -> dict:
    out: dict = {"rows": {}, "bytes": {}}
    for t in TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(path):
            out["rows"][t] = pq.ParquetFile(path).metadata.num_rows
            out["bytes"][t] = os.path.getsize(path)

    ev = pq.read_table(os.path.join(data_dir, "events.parquet"))
    day = pc.cast(ev["ts"], "int64").to_numpy() // 86_400_000_000
    per_day = np.bincount(day - day.min())
    per_user = np.bincount(ev["user_id"].to_numpy())
    types = Counter(ev["event_type"].to_pylist())
    out["events"] = {
        "ts_type": str(ev.schema.field("ts").type),
        "days": int(np.count_nonzero(per_day)),
        "per_day_min_max": [int(per_day[per_day > 0].min()), int(per_day.max())],
        "users": int(np.count_nonzero(per_user)),
        "per_user_q10_50_90": _q(per_user[per_user > 0]),
        "type_share_min_max": [round(min(types.values()) / ev.num_rows, 3),
                               round(max(types.values()) / ev.num_rows, 3)],
        "value_q10_50_90": _q(ev["value"].to_numpy()),
        "distinct_props": len(set(ev["props"].to_pylist())),
    }

    docs = pq.read_table(os.path.join(data_dir, "documents.parquet")).to_pydict()
    texts = docs["text"]
    tokens = [t.split(" ") for t in texts]
    seen = set(texts)
    near = sum(1 for w in tokens if len(w) > 1 and " ".join(w[:-1]) in seen)
    langs = Counter(docs["lang"])
    out["documents"] = {
        "tokens_q10_50_90": _q([len(w) for w in tokens]),
        "tokens_min_max": [min(map(len, tokens)), max(map(len, tokens))],
        "chars_mean": round(float(np.mean(docs["n_chars"])), 1),
        "vocabulary": len({w for ws in tokens for w in ws}),
        "exact_dup_rate": round(1 - len(seen) / len(texts), 4),
        "near_dup_rate": round(near / len(texts), 4),
        "pii_rate": round(sum(1 for t in texts if PII.search(t)) / len(texts), 4),
        "en_share": round(langs["en"] / len(texts), 3),
        "langs": len(langs),
        "sources": len(set(docs["source"])),
    }

    emb = pq.read_table(os.path.join(data_dir, "embeddings.parquet"))
    vecs = np.array(emb["embedding"].to_pylist(), dtype="float32")
    labels = np.bincount(emb["label"].to_numpy())
    out["embeddings"] = {
        "dims": int(vecs.shape[1]),
        "norm_min_max": [round(float(v), 4) for v in
                         (np.linalg.norm(vecs, axis=1).min(), np.linalg.norm(vecs, axis=1).max())],
        "labels": int(np.count_nonzero(labels)),
        "label_share_max": round(float(labels.max() / len(vecs)), 3),
    }
    return out


if __name__ == "__main__":
    for d in sys.argv[1:]:
        got = shape(d)
        print(json.dumps({"dir": d, **got, "differences_from_sf01": differences(got)}, indent=1))
