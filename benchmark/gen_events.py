"""Open-loop rating-event generator for ``stream_recs``.

Runs as its own process with one thread.  Event ``i`` is due at
``start + i / rate``; its ``ts`` field is that due time, so latency is
counted from when the event should have existed, not from when a stalled
generator got round to it.  Every ``TICK`` seconds the events due in that
tick are written to one CSV file (``userId,productId,score,ts``), renamed
into the watched directory so the file source never sees a partial file.
On exit it prints one JSON line: files, events and how late it ran.

    python3 gen_events.py --out DIR --start EPOCH --seconds S --rate R --seed N --users U
"""

from __future__ import annotations

import argparse
import json
import os
import time

import numpy as np

import datagen

TICK = 0.1


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    ap.add_argument("--start", type=float, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--rate", type=float, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--users", type=int, required=True)
    args = ap.parse_args()

    rng = np.random.default_rng(args.seed)
    n_total = int(args.seconds * args.rate)
    users = rng.integers(0, args.users, n_total)
    products, scores = datagen.taste(rng, users)
    due = args.start + np.arange(1, n_total + 1) / args.rate
    n_ticks = int(np.ceil(args.seconds / TICK))
    late, sent = [], 0
    for k in range(1, n_ticks + 1):
        t_k = args.start + k * TICK
        time.sleep(max(0.0, t_k - time.time()))
        hi = int(np.searchsorted(due, t_k, side="right"))
        if hi > sent:
            name = f"ev-{k:06d}.csv"
            tmp = os.path.join(args.out, f".{name}.tmp")
            with open(tmp, "w") as f:
                for i in range(sent, hi):
                    f.write(f"{users[i]},{products[i]},{scores[i]!r},{due[i]!r}\n")
            os.rename(tmp, os.path.join(args.out, name))
            sent = hi
        late.append(time.time() - t_k)
    print(
        json.dumps(
            {
                "files": len(os.listdir(args.out)),
                "events": sent,
                "late_max_s": max(late, default=0.0),
                "late_p50_s": float(np.median(late)) if late else 0.0,
            }
        ),
        flush=True,
    )


if __name__ == "__main__":
    main()
