"""Open-loop shard-log generator for the stream workloads.

Appends records to ``shardId-%012d.jsonl`` logs in the format
``sources/pyds.py`` reads (``{"pk", "data", "ts"}`` per line), routed
by the engine's MD5 ring.  Record ``i`` is due at ``start + i / rate``
and carries that due time in ``ts`` (timezone-aware UTC ISO, which
``datetime.fromisoformat`` parses back to the same instant); the
writer never slows when the consumer does.  Payloads and keys come
from ``--seed`` alone, so a seed always yields the same record
sequence.

    python3 perfbench/streamgen.py --out DIR --rate R --seed N --start T \
        --stats FILE

On SIGTERM it stops at a tick boundary, writes ``{"written",
"lateness_p99_s", "lateness_max_s"}`` to ``--stats`` and exits 0.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import signal
import statistics
import time
from datetime import datetime, timezone

SHARDS = 8
#: generator tick: records due within one tick are written together
TICK_S = 0.005
_TIERS = ["GOLD", "Silver", "bronze", "gold", "SILVER", "Bronze"]
_EVENTS = ["page_view", "add_to_cart", "purchase", "refund", "search"]


def payload(rng: random.Random, i: int) -> str:
    """The i-th record's payload text.  About 1 % is not JSON and 5 %
    lacks the ``sku`` property, so the filter's pass-through and
    missing-property branches both run."""
    r = rng.random()
    if r < 0.01:
        return f"raw-line {i}"
    obj = {
        "user": {"tier": rng.choice(_TIERS), "id": rng.randrange(100_000)},
        "amount": "%03d" % rng.randrange(1000),
        "event": rng.choice(_EVENTS),
        "seq": i,
    }
    if r >= 0.06:
        obj["sku"] = "SKU-%05d" % rng.randrange(100_000)
    return json.dumps(obj, separators=(",", ":"))


def records(seed: int):
    """Endless ``(partition key, payload)`` sequence for ``seed``."""
    rng = random.Random(seed)
    i = 0
    while True:
        pk = "user-%d" % rng.randrange(1000)
        yield pk, payload(rng, i)
        i += 1


def iso(t: float) -> str:
    return datetime.fromtimestamp(t, timezone.utc).isoformat()


class ShardWriter:
    """Appends whole lines to the shard logs of one directory."""

    def __init__(self, out: str):
        from decisions_kinesis_spark.sources.pyds import route_md5, shard_file

        self._route = route_md5
        os.makedirs(out, exist_ok=True)
        self._files = [
            open(os.path.join(out, shard_file(s)), "a", encoding="utf-8")  # noqa: SIM115 - closed in close()
            for s in range(SHARDS)
        ]

    def write(self, batch: list[tuple[str, str, float]]) -> None:
        lines: list[list[str]] = [[] for _ in range(SHARDS)]
        for pk, data, due in batch:
            lines[self._route(pk, SHARDS)].append(
                json.dumps({"pk": pk, "data": data, "ts": iso(due)}) + "\n"
            )
        for f, chunk in zip(self._files, lines):
            if chunk:
                f.write("".join(chunk))
                f.flush()

    def close(self) -> None:
        for f in self._files:
            f.close()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    ap.add_argument("--rate", type=float, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--start", type=float, required=True)
    ap.add_argument("--stats", required=True)
    args = ap.parse_args()

    stop = False

    def _term(*_):
        nonlocal stop
        stop = True

    signal.signal(signal.SIGTERM, _term)
    writer = ShardWriter(args.out)
    gen = records(args.seed)
    written = 0
    lateness: list[float] = []
    try:
        while not stop:
            now = time.time()
            due_n = int((now - args.start) * args.rate) + 1 if now >= args.start else 0
            if due_n > written:
                batch = []
                for i in range(written, due_n):
                    pk, data = next(gen)
                    batch.append((pk, data, args.start + i / args.rate))
                writer.write(batch)
                lateness.append(time.time() - batch[0][2])
                written = due_n
            time.sleep(TICK_S)
    finally:
        writer.close()
    cuts = statistics.quantiles(lateness, n=100) if len(lateness) > 1 else lateness * 99
    with open(args.stats, "w", encoding="utf-8") as f:
        json.dump({"written": written,
                   "lateness_p99_s": cuts[98] if cuts else 0.0,
                   "lateness_max_s": max(lateness, default=0.0)}, f)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
