"""The benchmark's injected sink: a counting put function.

The relay pickles it to executor Python workers, so it lives in an
importable module. Each call writes the accepted entries to one file in
``out_dir`` (executors are separate processes; the shared directory is
how the counts and the delivered records get back). Like Kinesis, it
rejects an entry larger than 1 MiB, by returning its index as failed.
"""

from __future__ import annotations

import os
import uuid

MAX_ENTRY_BYTES = 1 << 20  # the Kinesis per-record limit


class CountingPut:
    def __init__(self, out_dir: str):
        self.out_dir = out_dir

    def __call__(self, batch) -> list[int]:
        failed = [i for i, (_, data) in enumerate(batch.entries) if len(data) > MAX_ENTRY_BYTES]
        name = f"{uuid.uuid4().hex}.{len(failed)}.put"
        with open(os.path.join(self.out_dir, name), "wb") as fh:
            for i, (_, data) in enumerate(batch.entries):
                if not failed or i not in failed:
                    fh.write(data)
        return failed


def tally(out_dir: str) -> dict:
    """Counts over every put call recorded in ``out_dir`` and the
    delivered NDJSON lines."""
    calls = failed = nbytes = 0
    lines: list[bytes] = []
    for name in os.listdir(out_dir):
        if not name.endswith(".put"):
            continue
        calls += 1
        failed += int(name.split(".")[1])
        with open(os.path.join(out_dir, name), "rb") as fh:
            data = fh.read()
        nbytes += len(data)
        lines.extend(data.splitlines())
    return {"put_calls": calls, "entries": len(lines), "bytes": nbytes,
            "failed_entries": failed, "lines": lines}
