"""Seeded CDC load generator for the topology workload.

Runs as its own process, separate from the system under test, with one
thread. Every wave is written to a `_`-prefixed temp name (invisible to
Spark's file listing) and published with one atomic rename; its
creation time is stamped right after the rename.

The feed keeps the topology's contract, so the co-arrival guard and the
DWS watermark-drop check stay silent:

- an order's header and all its detail rows share one `ts` and one file;
- `ts` never decreases from wave to wave;
- every part key has a `sku_info` row in the dims wave, which the
  harness sees committed before any fact is written; the `sku_info`
  update in the middle of every `SKU_EVERY` waves renames a part but
  never changes its brand, so the ADS totals do not depend on when an
  update lands.

The DAU start log is shipped every `START_EVERY` waves. Part-key skew
(a Zipf exponent) and details per order vary with the seed.

Modes:

    python3 perfbench/gen.py dims    --root R --seed S
    python3 perfbench/gen.py backlog --root R --seed S --seconds T

`dims` writes the dim bootstrap wave into R/in. `backlog` writes what
an outage of T s leaves behind: `RATE` waves per second of event time,
as fast as it can, one file per wave into R/in and R/in_start, and
appends one JSON line per wave to R/stamps.jsonl with its creation time
and row counts.
"""

from __future__ import annotations

import argparse
import json
import os
import time

import numpy as np

T0_MS = 1_749_949_200_000  # 2025-06-15 01:00 UTC: all waves fall on one day
N_PARTS = 400
N_BRANDS = 25
N_MIDS = 600
ORDERS = 4  # orders per wave
RATE = 20  # waves per second of outage
# Fixed cadences, so every backlog of one length carries the same number
# of sku renames and start-log files.
SKU_EVERY = 40  # one wave in every 40 carries a sku_info rename
START_EVERY = 20  # the start log is shipped in chunks of 20 waves


class Feed:
    """Pure function of (seed, wave index): the harness rebuilds the
    expected inputs from the same seed when it checks the outputs."""

    def __init__(self, seed: int) -> None:
        rng = np.random.default_rng(seed)
        self.seed = seed
        self.zipf_a = float(rng.uniform(0.3, 1.1))
        # a narrow range: the backlog's row count, and so its cost, stays
        # within a few percent across seeds
        self.details_mean = float(rng.uniform(2.9, 3.1))
        w = 1.0 / np.arange(1, N_PARTS + 1) ** self.zipf_a
        self.part_p = w / w.sum()
        self.part_perm = rng.permutation(N_PARTS) + 1
        self.brand = {
            int(pk): f"Brand#{int(b)}"
            for pk, b in zip(range(1, N_PARTS + 1), rng.integers(1, N_BRANDS + 1, N_PARTS))
        }
        self.price = {
            pk: round(float(p), 2)
            for pk, p in zip(range(1, N_PARTS + 1), rng.uniform(5.0, 500.0, N_PARTS))
        }

    def dim_rows(self) -> list[dict]:
        return [
            {"p_partkey": pk, "p_brand": self.brand[pk], "p_name": f"sku{pk}",
             "ts": T0_MS - 10_000 + pk}
            for pk in range(1, N_PARTS + 1)
        ]

    def wave(self, i: int) -> dict:
        """Headers, details, sku updates and start-log rows of wave i."""
        rng = np.random.default_rng([self.seed, i])
        ts = T0_MS + i * (1000 // RATE)
        heads, details = [], []
        n_det = 1 + rng.poisson(self.details_mean - 1.0, ORDERS)
        for j in range(ORDERS):
            ok = (i + 1) * 100_000 + j
            parts = self.part_perm[rng.choice(N_PARTS, n_det[j], p=self.part_p)]
            qty = rng.integers(1, 51, n_det[j])
            lines = []
            for ln, (pk, q) in enumerate(zip(parts.tolist(), qty.tolist()), start=1):
                lines.append({
                    "l_orderkey": ok, "l_linenumber": ln, "l_partkey": pk,
                    "l_suppkey": 1 + (pk * 7 + ln) % 100, "l_quantity": float(q),
                    "l_extendedprice": round(q * self.price[pk], 2),
                })
            gross = sum(r["l_extendedprice"] for r in lines)
            total = round(gross * float(rng.uniform(0.85, 1.05)), 2)
            heads.append({"o_orderkey": ok, "o_custkey": int(rng.integers(1, 5000)),
                          "o_totalprice": total})
            details += lines
        skus = []
        if i % SKU_EVERY == SKU_EVERY // 2:
            pk = int(self.part_perm[rng.integers(0, N_PARTS)])
            skus.append({"p_partkey": pk, "p_brand": self.brand[pk],
                         "p_name": f"sku{pk}-r{i}"})
        mids = rng.integers(0, N_MIDS, max(1, ORDERS // 2))
        starts = [{"mid": f"mid_{m}", "ts": ts + k} for k, m in enumerate(mids.tolist())]
        return {"ts": ts, "heads": heads, "details": details, "skus": skus,
                "starts": starts}


def _env(table: str, type_: str, data: dict, ts: int) -> str:
    return json.dumps({"table": table, "type": type_,
                       "data": {k: str(v) for k, v in data.items()}, "ts": ts})


def cdc_lines(w: dict) -> list[str]:
    ts = w["ts"]
    out = [_env("sku_info", "update", r, ts) for r in w["skus"]]
    by_order: dict[int, list[dict]] = {}
    for d in w["details"]:
        by_order.setdefault(d["l_orderkey"], []).append(d)
    for h in w["heads"]:
        out.append(_env("order_info", "insert", h, ts))
        out += [_env("order_detail", "insert", d, ts) for d in by_order[h["o_orderkey"]]]
    return out


def start_lines(w: dict) -> list[str]:
    return [json.dumps(r) for r in w["starts"]]


def write_atomic(directory: str, name: str, lines: list[str]) -> None:
    os.makedirs(directory, exist_ok=True)
    tmp = os.path.join(directory, f"_tmp_{name}")
    with open(tmp, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    os.replace(tmp, os.path.join(directory, name))


def _stamp(fh, **rec) -> None:
    fh.write(json.dumps(rec) + "\n")
    fh.flush()


def run_dims(root: str, feed: Feed) -> None:
    lines = [_env("sku_info", "insert", {k: v for k, v in r.items() if k != "ts"}, r["ts"])
             for r in feed.dim_rows()]
    write_atomic(os.path.join(root, "in"), "dims.json", lines)


def run_backlog(root: str, feed: Feed, seconds: float) -> None:
    n = max(1, int(round(RATE * seconds)))
    pending_starts: list[str] = []
    with open(os.path.join(root, "stamps.jsonl"), "a") as stamps:
        for i in range(n):
            w = feed.wave(i)
            name = f"wave_{i:06d}.json"
            pending_starts += start_lines(w)
            if i % START_EVERY == START_EVERY - 1 or i == n - 1:
                write_atomic(os.path.join(root, "in_start"), name, pending_starts)
                pending_starts = []
            write_atomic(os.path.join(root, "in"), name, cdc_lines(w))
            _stamp(stamps, wave=i, name=name, created=time.time(),
                   orders=len(w["heads"]), details=len(w["details"]),
                   skus=len(w["skus"]), starts=len(w["starts"]))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("mode", choices=["dims", "backlog"])
    ap.add_argument("--root", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, help="outage length (backlog only)")
    a = ap.parse_args(argv)
    if (a.mode == "backlog") != (a.seconds is not None):
        ap.error("--seconds is given with backlog and only with backlog")
    feed = Feed(a.seed)
    if a.mode == "dims":
        run_dims(a.root, feed)
    else:
        run_backlog(a.root, feed, a.seconds)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
