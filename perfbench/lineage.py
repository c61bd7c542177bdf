"""Wave-to-ADS lineage rebuilt from what the topology leaves on disk.

Nothing here touches the program under test. Each stage's checkpoint
holds three logs: `sources/<i>/<batch>` (the files a batch read; older
entries are folded into `<batch>.compact`), `offsets/<batch>` (written
when the batch starts) and `commits/<batch>` (written when it is done).
Each inter-stage topic commits a batch as `manifest_<batch>.txt`.
Following a wave file through those names gives the ADS batch that
covered it and the time each hop waited.
"""

from __future__ import annotations

import bisect
import json
import os
import statistics
from dataclasses import dataclass, field
from urllib.parse import unquote, urlparse


def _local(path: str) -> str:
    return unquote(urlparse(path).path) if path.startswith("file:") else path


@dataclass
class StageLog:
    """The three checkpoint logs of one streaming query."""

    read_by: dict[str, int] = field(default_factory=dict)  # file -> batch
    start: dict[int, float] = field(default_factory=dict)  # batch -> epoch s
    commit: dict[int, float] = field(default_factory=dict)  # batch -> epoch s

    @classmethod
    def load(cls, ckpt: str) -> "StageLog":
        """A file source logs each file under its own `logOffset`, which
        equals the query's batch id only until the query runs a batch
        without new data (a stateful stage does, to advance its
        watermark). `offsets/<batch>` records every source's logOffset,
        so a file belongs to the first batch whose offset reaches its."""
        log = cls()
        batch_offsets: dict[int, list[int]] = {}
        # a batch's offsets entry is written once its input is fixed,
        # after the source listing; `batchTimestampMs` inside it is the
        # trigger time, which can precede the listing by a whole batch
        for sub, times in (("offsets", log.start), ("commits", log.commit)):
            d = os.path.join(ckpt, sub)
            for f in os.listdir(d) if os.path.isdir(d) else []:
                if f.isdigit():
                    path = os.path.join(d, f)
                    times[int(f)] = os.stat(path).st_mtime
                    if sub == "offsets":
                        with open(path) as fh:
                            lines = fh.read().splitlines()[2:]
                        batch_offsets[int(f)] = [
                            json.loads(x)["logOffset"] if x.startswith("{") else -1
                            for x in lines
                        ]
        src_root = os.path.join(ckpt, "sources")
        for i, src in enumerate(sorted(os.listdir(src_root), key=int)
                                if os.path.isdir(src_root) else []):
            reached = sorted((offs[i], b) for b, offs in batch_offsets.items()
                             if len(offs) > i)
            keys = [o for o, _ in reached]
            d = os.path.join(src_root, src)
            for f in os.listdir(d):
                if f.startswith("."):
                    continue
                with open(os.path.join(d, f)) as fh:
                    for line in fh.read().splitlines()[1:]:
                        if not line.strip():
                            continue
                        rec = json.loads(line)
                        k = bisect.bisect_left(keys, int(rec["batchId"]))
                        if k < len(reached):
                            log.read_by[_local(rec["path"])] = reached[k][1]
        return log


def manifest(topic_dir: str, batch: int) -> str:
    return os.path.join(topic_dir, f"manifest_{batch:09d}.txt")


def manifests(topic_dir: str) -> dict[int, str]:
    out = {}
    for f in os.listdir(topic_dir) if os.path.isdir(topic_dir) else []:
        if f.startswith("manifest_") and f.endswith(".txt"):
            out[int(f[len("manifest_"):-len(".txt")])] = os.path.join(topic_dir, f)
    return out


class TopologyLineage:
    """Lineage over a stopped `FiveLayerTopology` root directory."""

    def __init__(self, root: str) -> None:
        self.root = root
        self.logs = {
            s: StageLog.load(os.path.join(root, "ckpt", s))
            for s in ("ods", "dim", "dwd", "dws", "ads", "dau")
        }
        self.topics = {
            "ods_info": os.path.join(root, "ods", "ods_order_info"),
            "ods_detail": os.path.join(root, "ods", "ods_order_detail"),
            "ods_sku": os.path.join(root, "ods", "ods_sku_info"),
            "dwd_info": os.path.join(root, "dwd_order_info"),
            "dwd_detail": os.path.join(root, "dwd_order_detail"),
            "dws": os.path.join(root, "dws_order_wide"),
        }
        self._dws_batches = sorted(manifests(self.topics["dws"]))

    def _side(self, ods_batch: int, side: str) -> int | None:
        """DWS batch that read one side (info or detail) of an ODS
        batch. The two sides are separate topics at every hop, so a
        downstream trigger can pick them up in different batches."""
        b = self.logs["dwd"].read_by.get(manifest(self.topics[f"ods_{side}"], ods_batch))
        if b is None:
            return None
        return self.logs["dws"].read_by.get(manifest(self.topics[f"dwd_{side}"], b))

    def ads_commit_for(self, wave_file: str) -> float | None:
        """Commit time of the ADS batch that covered a fact wave, or
        None if some hop never happened."""
        ods = self.logs["ods"].read_by.get(wave_file)
        if ods is None:
            return None
        sides = [self._side(ods, "info"), self._side(ods, "detail")]
        if None in sides:
            return None
        b = max(sides)
        # the join emits a pair in the batch that reads its last side;
        # an empty join output commits no manifest, so take the next one
        out = next((x for x in self._dws_batches if x >= b), None)
        if out is None:
            return None
        b = self.logs["ads"].read_by.get(manifest(self.topics["dws"], out))
        return None if b is None else self.logs["ads"].commit.get(b)

    def queue_s(self, since: float) -> dict[str, float]:
        """Median wait from an upstream manifest commit to the start of
        the downstream batch that read it, per consuming stage, over the
        manifests committed at or after epoch `since`."""
        upstream = {
            "dim": ["ods_sku"],
            "dwd": ["ods_info", "ods_detail"],
            "dws": ["dwd_info", "dwd_detail"],
            "ads": ["dws"],
        }
        out = {}
        for stage, topics in upstream.items():
            log = self.logs[stage]
            waits = []
            for t in topics:
                for path in manifests(self.topics[t]).values():
                    b = log.read_by.get(path)
                    committed = os.stat(path).st_mtime
                    if b is not None and b in log.start and committed >= since:
                        waits.append(log.start[b] - committed)
            out[stage] = statistics.median(waits) if waits else 0.0
        return out
