"""Seeded Prometheus remote-write bodies and their sample checksum.

Every body is what a Prometheus remote-write shard sends:
``snappy(protobuf(prompb.WriteRequest))``, really compressed with
pyarrow's block-format snappy codec. A body holds ``SERIES_PER_BODY``
series with one sample each; a series carries 6-8 labels (``__name__``
included, sorted by name as Prometheus sends them) drawn over
``N_METRICS`` metric names, and about 1% of the samples are the
Prometheus staleness marker (a NaN the relay turns into a null value).

The protobuf encoding is written here from the public wire format, not
taken from the engine, so a change to the engine's codecs cannot change
the load it is measured with. Bodies are a pure function of
``(seed, index, timestamp)``: the same seed gives byte-identical bodies.
"""

from __future__ import annotations

import hashlib
import json
import random
import struct

import pyarrow as pa

SERIES_PER_BODY = 2000
N_METRICS = 50
UNIVERSE = 4 * SERIES_PER_BODY  # distinct series the bodies rotate over
STALE_SHARE = 0.01
STALE_NAN = struct.pack("<Q", 0x7FF0000000000002)  # Prometheus stale marker
BASE_MS = 1_700_000_000_000  # timeline origin of the scheduled send times
POST_RATE = 4.0  # bodies per second on that timeline: the ingest open loop's rate
WARM_BODIES = 4  # warm-up bodies posted before the timed ones

_SUBSYSTEMS = ["http", "grpc", "node", "process", "db", "cache", "queue",
               "kafka", "jvm", "go"]
_KINDS = ["requests_total", "errors_total", "duration_seconds_sum",
          "bytes_total", "inflight"]
METRIC_NAMES = [f"{s}_{k}" for s in _SUBSYSTEMS for k in _KINDS][:N_METRICS]

_JOBS = ["api", "web", "worker", "billing", "search", "auth", "edge", "ingest"]
_REGIONS = ["us-east-1", "us-west-2", "eu-west-1", "eu-central-1", "ap-south-1"]
_OPTIONAL = {  # 0-2 of these on top of the base 6 labels
    "code": ["200", "201", "204", "301", "400", "404", "500", "503"],
    "method": ["GET", "POST", "PUT", "DELETE"],
    "route": [f"/api/v{v}/{job}" for v in (1, 2) for job in _JOBS],
}


def _uvarint(n: int) -> bytes:
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _ld(tag: int, payload: bytes) -> bytes:
    """Length-delimited field (wire type 2) with a one-byte tag."""
    return bytes([tag]) + _uvarint(len(payload)) + payload


def _series_text(name: str, labels: dict) -> str:
    return json.dumps([name, sorted(labels.items())], separators=(",", ":"))


def _hash64(data: bytes) -> int:
    return int.from_bytes(hashlib.blake2b(data, digest_size=8).digest(), "little")


def series_key(name: str, labels: dict) -> int:
    """64-bit identity of a series: name plus its full, sorted label map."""
    return _hash64(_series_text(name, labels).encode())


def sample_hash(key: int, time_ms: int, value: float | None) -> int:
    """Order-independent checksum term of one (series, time, value)."""
    bits = 0x7FF8DEAD if value is None else struct.unpack("<q", struct.pack("<d", value))[0]
    return _hash64(struct.pack("<Qqq", key, time_ms, bits))


class Universe:
    """The seeded set of series the bodies are drawn from."""

    def __init__(self, seed: int):
        rng = random.Random(f"perfbench-series-{seed}")
        self.label_bytes: list[bytes] = []
        self.keys: list[int] = []
        self.bases: list[float] = []
        for _ in range(UNIVERSE):
            job = rng.choice(_JOBS)
            labels = {
                "__name__": rng.choice(METRIC_NAMES),
                "instance": f"10.{rng.randrange(256)}.{rng.randrange(256)}.{rng.randrange(1, 255)}:9100",
                "job": job,
                "pod": f"{job}-{rng.getrandbits(24):06x}-{rng.getrandbits(20):05x}",
                "region": rng.choice(_REGIONS),
                "zone": rng.choice("abc"),
            }
            for extra in rng.sample(sorted(_OPTIONAL), rng.randrange(3)):
                labels[extra] = rng.choice(_OPTIONAL[extra])
            encoded = b"".join(
                _ld(0x0A, _ld(0x0A, k.encode()) + _ld(0x12, v.encode()))
                for k, v in sorted(labels.items())
            )
            self.label_bytes.append(encoded)
            self.keys.append(series_key(labels["__name__"], labels))
            self.bases.append(round(rng.uniform(0, 1e6), 3))


def make_body(universe: Universe, seed: int, index: int, time_ms: int) -> tuple[bytes, int, int]:
    """Body ``index`` of the seeded stream, every sample stamped
    ``time_ms``. Returns ``(body, n_samples, checksum)``; the checksum is
    the sum (mod 2**64) of the samples' ``sample_hash``."""
    rng = random.Random(f"perfbench-body-{seed}-{index}")
    start = (index * SERIES_PER_BODY) % UNIVERSE
    ts_field = b"\x10" + _uvarint(time_ms)
    out = bytearray()
    checksum = 0
    for j in range(start, start + SERIES_PER_BODY):
        s = j % UNIVERSE
        if rng.random() < STALE_SHARE:
            raw_value, value = STALE_NAN, None
        else:
            value = round(universe.bases[s] + index * rng.uniform(0, 10), 3)
            raw_value = struct.pack("<d", value)
        sample = b"\x09" + raw_value + ts_field
        series = universe.label_bytes[s] + _ld(0x12, sample)
        out += _ld(0x0A, series)
        checksum += sample_hash(universe.keys[s], time_ms, value)
    body = pa.compress(bytes(out), codec="snappy", asbytes=True)
    return body, SERIES_PER_BODY, checksum % (1 << 64)


def record_checksum(lines) -> tuple[int, int]:
    """``(count, checksum)`` over delivered NDJSON records — the relay's
    wire format ``{"name", "time", "value", "labels"}`` — computed the
    same way as ``make_body`` so the two compare directly."""
    keys: dict[str, int] = {}
    count = checksum = 0
    for line in lines:
        rec = json.loads(line)
        text = _series_text(rec["name"], rec["labels"])
        key = keys.get(text)
        if key is None:
            key = keys[text] = _hash64(text.encode())
        value = rec["value"]
        checksum += sample_hash(key, rec["time"], None if value is None else float(value))
        count += 1
    return count, checksum % (1 << 64)
