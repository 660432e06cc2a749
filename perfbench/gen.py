"""Open-loop alert generator for the live phase of alert_wire.

One process, one thread. During its set-up it encodes every file of the
run into a staging directory; from ``t0`` on it publishes file k at
``t0 + k / FILES_PER_S`` by renaming it into the source directory, so a
reader never sees a partial file. Every event in file k carries that
scheduled send time in ``snort_timestamp`` and ``event_sent_at``. A
share of events is sent again in a later file, as a redelivery.

Prints ``{"t0": ...}`` once staged, then ``{"lag_ms": [...]}`` (how late
each file was published) when done.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import alerts  # noqa: E402

#: The offered load: EVENTS_PER_S new events a second in FILES_PER_S
#: files, plus REDELIVER_SHARE of them sent again 1..MAX_REDELIVERY_DELAY
#: files later.
EVENTS_PER_S = 128
FILES_PER_S = 4
PER_FILE = EVENTS_PER_S // FILES_PER_S
REDELIVER_SHARE = 0.05
MAX_REDELIVERY_DELAY = 4
#: Seconds the generator gets to stage its files before the first send.
LEAD_S = 2.0


def plan(seed: int, first: int, n_files: int) -> list[list[tuple[int, bool]]]:
    """File k → its (event index, is redelivery) list. Event first + j is
    first sent in file j // PER_FILE."""
    rng = random.Random(f"redeliver:{seed}")
    files: list[list[tuple[int, bool]]] = [[] for _ in range(n_files)]
    for k in range(n_files):
        for i in range(first + k * PER_FILE, first + (k + 1) * PER_FILE):
            files[k].append((i, False))
            if rng.random() < REDELIVER_SHARE:
                again = k + rng.randint(1, MAX_REDELIVERY_DELAY)
                if again < n_files:
                    files[again].append((i, True))
    return files


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--src", required=True)
    ap.add_argument("--stage", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--first", type=int, required=True, help="index of the first event")
    ap.add_argument("--files", type=int, required=True)
    args = ap.parse_args(argv)

    t0 = time.time() + LEAD_S
    os.makedirs(args.stage, exist_ok=True)
    payloads: dict[int, bytes] = {}
    names = []
    for k, entries in enumerate(plan(args.seed, args.first, args.files)):
        t = t0 + k / FILES_PER_S
        recs = []
        for i, _ in entries:
            if i not in payloads:
                ev = alerts.make_event(args.seed, i, t)
                payloads[i] = alerts.encode_payload(ev, alerts.is_poison(args.seed, i))
                key = ev["event_hash_sha256"].encode()
            else:
                key = alerts.event_key(args.seed, i)
            recs.append((key, payloads[i], t))
        name = f"part-{k:05d}.parquet"
        alerts.write_records(os.path.join(args.stage, name), recs, k * PER_FILE)
        names.append(name)
    print(json.dumps({"t0": t0, "staged_at": time.time()}), flush=True)

    lag_ms = []
    for k, name in enumerate(names):
        due = t0 + k / FILES_PER_S
        delay = due - time.time()
        if delay > 0:
            time.sleep(delay)
        os.rename(os.path.join(args.stage, name), os.path.join(args.src, name))
        lag_ms.append((time.time() - due) * 1e3)
    print(json.dumps({"lag_ms": lag_ms}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
