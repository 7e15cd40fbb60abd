"""Open-loop message feed for the ``router-steady`` workload.

``python3 feeder.py OUT_DIR SEED RATE SECONDS FILE_MS START_NS``

A single thread writes one parquet file of (key, value) messages every
FILE_MS milliseconds, from START_NS (a ``time.time_ns()`` instant) for
SECONDS seconds, at RATE messages per second, whatever the router does.
Message ``i`` is due at ``START_NS + i / RATE`` and its key is
``"<i>:<due in epoch microseconds>"``. A file holds the messages due in
its FILE_MS window and is written when the window closes, under a
dot-name the file source ignores, then renamed into place. The last
stdout line is JSON: messages and files written, and how late each
file landed after its window closed, in ms.
"""

from __future__ import annotations

import json
import os
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from data import documents_text


def main() -> None:
    out_dir, seed, rate, seconds, file_ms, start_ns = sys.argv[1:7]
    seed, rate, file_ms, start_ns = int(seed), int(rate), int(file_ms), int(start_ns)
    rng = np.random.default_rng(seed + 2)
    corpus = documents_text(rng, 5000)
    per_file = rate * file_ms // 1000
    n_files = int(float(seconds) * 1000) // file_ms
    picks = rng.integers(0, len(corpus), per_file * n_files)
    late_ms = []
    for k in range(n_files):
        close_ns = start_ns + (k + 1) * file_ms * 1_000_000
        wait = (close_ns - time.time_ns()) / 1e9
        if wait > 0:
            time.sleep(wait)
        seq = range(k * per_file, (k + 1) * per_file)
        keys = [f"{i}:{(start_ns + i * 1_000_000_000 // rate) // 1000}" for i in seq]
        values = [corpus[p] for p in picks[k * per_file:(k + 1) * per_file]]
        tmp = os.path.join(out_dir, f".part-{k:06d}.parquet")
        pq.write_table(pa.table({"key": keys, "value": values}), tmp)
        os.rename(tmp, os.path.join(out_dir, f"part-{k:06d}.parquet"))
        late_ms.append((time.time_ns() - close_ns) / 1e6)
    print(json.dumps({"messages": per_file * n_files, "files": n_files, "late_ms": late_ms}))


if __name__ == "__main__":
    main()
