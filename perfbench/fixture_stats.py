"""Profile fixture tables: row counts, key and value distributions.

    python3 perfbench/fixture_stats.py DIR                 # profile DIR/*.parquet
    python3 perfbench/fixture_stats.py DIR --vs-seed 1     # compare with datagen at DIR's scale
    python3 perfbench/fixture_stats.py DIR --record OUT    # write DIR's profile as JSON

DIR is a directory of the test fixture tables (one parquet per
table, e.g. the ``sf0.01`` directory TESTDATA.md names). ``--vs-seed``
generates the same scale with ``datagen.fixture_tables`` and prints
every figure that differs by more than ``differences`` allows.
``fixture_profile.json`` in this directory is the recorded profile of
the sf0.01 test fixtures plus their row counts at every scale; the
benchmark's own tests hold datagen to it.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
RECORDED = os.path.join(HERE, "fixture_profile.json")
_DAY_S = 86_400.0


def load_dir(path: str) -> dict[str, pa.Table]:
    return {
        f[: -len(".parquet")]: pq.read_table(os.path.join(path, f))
        for f in sorted(os.listdir(path)) if f.endswith(".parquet")
    }


def row_counts(path: str) -> dict[str, int]:
    return {
        f[: -len(".parquet")]: pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
        for f in sorted(os.listdir(path)) if f.endswith(".parquet")
    }


def _column(col: pa.ChunkedArray) -> dict[str, float]:
    t = col.type
    s: dict[str, float] = {"nulls": col.null_count}
    if pa.types.is_list(t):
        v = np.stack(col.to_numpy(zero_copy_only=False))
        s.update(dim=v.shape[1], norm=float(np.linalg.norm(v, axis=1).mean()), std=float(v.std()))
        return s
    s["distinct"] = len(pc.unique(col))
    if pa.types.is_string(t):
        counts = pc.value_counts(col).field("counts").to_numpy()
        s.update(top_share=float(counts.max() / len(col)),
                 mean_len=float(pc.mean(pc.utf8_length(col)).as_py()))
        return s
    if pa.types.is_timestamp(t):
        col = pc.divide(pc.cast(pc.cast(col, pa.timestamp("us")), pa.int64()), 1e6 * _DAY_S)
    s.update(min=pc.min(col).as_py(), max=pc.max(col).as_py(), mean=pc.mean(col).as_py())
    return s


def profile(tables: dict[str, pa.Table]) -> dict[str, dict[str, float]]:
    """``table.column`` -> figures. Timestamps are in days since the
    epoch; ``documents.text`` adds words per document, vocabulary size
    and the share of near-duplicate copies (texts ending in " dup")."""
    out: dict[str, dict[str, float]] = {}
    for name, table in tables.items():
        out[name] = {"rows": table.num_rows}
        for c in table.column_names:
            out[f"{name}.{c}"] = _column(table[c])
    if "documents" in tables:
        texts = tables["documents"]["text"].to_pylist()
        words = [len(t.split()) for t in texts]
        out["documents.text"].update(
            words_min=min(words), words_mean=float(np.mean(words)), words_max=max(words),
            vocabulary=len({w for t in texts for w in t.split()}),
            dup_share=sum(t.endswith(" dup") for t in texts) / len(texts),
        )
    if "events" in tables:
        ts = np.sort(tables["events"]["ts"].cast(pa.int64()).to_numpy())
        out["events.ts"]["gap_mean_s"] = float(np.diff(ts).mean() / 1e6)
    return out


def differences(want: dict, got: dict) -> list[str]:
    """Every figure of ``want`` that ``got`` lacks or misses. Row
    counts, vector dimensions and the vocabulary must be exact; shares
    may differ by 0.07 (three standard errors of a share near 0.4
    over 500 rows); extremes by 25% and every other figure by 10%
    of the larger of itself and the column's value range. That is wider
    than the sampling noise at sf0.01 (100 suppliers, 500 documents,
    the tail of 10,000 exponential event values), not at sf0.001."""
    out = []
    for key, figs in want.items():
        have = got.get(key)
        if have is None:
            out.append(f"{key}: missing")
            continue
        span = figs.get("max", 0) - figs.get("min", 0)
        for stat, w in figs.items():
            g = have.get(stat)
            if g is None:
                ok = False
            elif stat in ("rows", "dim", "vocabulary"):
                ok = g == w
            elif stat.endswith("share"):
                ok = abs(g - w) <= 0.07
            else:
                tol = 0.25 if stat in ("min", "max", "words_min", "words_max") else 0.1
                ok = abs(g - w) <= tol * max(abs(w), span, 1e-9)
            if not ok:
                out.append(f"{key}.{stat}: fixture {w:.6g}, generated {g if g is None else f'{g:.6g}'}")
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("dir")
    ap.add_argument("--vs-seed", type=int)
    ap.add_argument("--record")
    args = ap.parse_args()
    prof = profile(load_dir(args.dir))
    if args.record:
        parent = os.path.dirname(os.path.abspath(args.dir))
        scales = {d: row_counts(os.path.join(parent, d))
                  for d in sorted(os.listdir(parent)) if d.startswith("sf")}
        with open(args.record, "w") as f:
            json.dump({"scale": os.path.basename(os.path.normpath(args.dir)), "rows": scales,
                       "profile": prof}, f, indent=1, sort_keys=True)
            f.write("\n")
    if args.vs_seed is None:
        for key, figs in prof.items():
            print(key, " ".join(f"{k}={v:.6g}" for k, v in figs.items()))
        return 0
    import datagen

    sf = float(os.path.basename(os.path.normpath(args.dir)).removeprefix("sf"))
    diffs = differences(prof, profile(datagen.fixture_tables(args.vs_seed, sf)))
    print("\n".join(diffs) or f"datagen seed {args.vs_seed} matches {args.dir} at sf{sf:g}")
    return 1 if diffs else 0


if __name__ == "__main__":
    sys.exit(main())
