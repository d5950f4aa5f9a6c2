"""The relay's NDJSON record line, built in Python from record columns.

One line per record, exactly ``json.dumps(record, ensure_ascii=False,
separators=(",", ":")) + "\\n"`` with the fields in the order of
record.go:8-14 (``name``, ``time``, ``value``, ``labels``). Two writers
use it: the NDJSON spool (``server.RemoteWriteServer.spool``) and the
raw-spool relay's sink (``sinks``), which decodes each body and sends
these lines, so a body relayed through either spool mode delivers the
same bytes.

A label set's line head ``{"name":<name>,"time":`` and tail
``,"labels":{…}}\\n`` are encoded once and memoised on its cached
``prompb.LabelSet`` (its ``ndjson`` slot); a row is then head + time +
value + tail.
"""

from __future__ import annotations

import json
import math

from prometheus_remote_kinesis_spark.sources.prompb import Columns, LabelSet

# A value is never NaN (flatten_series maps it to None), so finite floats
# are float.__repr__, as json writes them.
_encode_json = json.JSONEncoder(ensure_ascii=False, separators=(",", ":")).encode
_VALUE_JSON = {None: "null", math.inf: "Infinity", -math.inf: "-Infinity"}


def _pieces(labels: dict) -> tuple[str, str]:
    """A label set's record head and tail; kept in a ``LabelSet``'s memo
    slot."""
    pieces = (
        '{"name":' + _encode_json(labels.get("__name__", "")) + ',"time":',
        ',"labels":' + _encode_json(labels) + "}\n",
    )
    if isinstance(labels, LabelSet):
        labels.ndjson = pieces  # same value from any thread: no lock
    return pieces


def ndjson_lines(columns: Columns) -> list[str]:
    """Record columns → one NDJSON line per record, each ending in
    ``\\n``. The pieces come from the label set's memo, else are built
    once per series run (a series' rows share one labels dict)."""
    lines = []
    last = None
    for _, time, value, labels in zip(*columns):
        if labels is not last:
            last = labels
            head, tail = getattr(labels, "ndjson", None) or _pieces(labels)
        lines.append(f'{head}{time},"value":{_VALUE_JSON.get(value) or repr(value)}{tail}')
    return lines
