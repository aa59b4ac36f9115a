"""OTLP protobuf input format — hand-rolled wire-format decode.

The reference accepts OTLP payloads as protobuf as well as JSON
(doc_processor.rs:143-177: SourceInputFormat::OtlpLogsProtobuf /
OtlpTracesProtobuf -> quickwit-opentelemetry/src/otlp/logs.rs:537
parse_otlp_logs_protobuf, traces.rs:877 parse_otlp_spans_protobuf).
This module closes the same surface WITHOUT a protobuf runtime
dependency: a minimal proto3 wire-format reader (varint / fixed /
length-delimited) walks exactly the opentelemetry-proto field numbers
for ExportLogsServiceRequest / ExportTraceServiceRequest and emits the
SAME flattened row schema as the OTLP/JSON path (otlp.py), so every
downstream consumer (indexing, aggregations, the Jaeger surface) is
input-format-agnostic.

Spark plumbing: binary payloads cannot be decoded JVM-side without a
protobuf dependency, so decode runs in Arrow-batched mapInPandas — the
sanctioned slow path for opaque binary decode. Per payload the work is
a single linear pass over the bytes. Malformed payloads are DROPPED,
mirroring the JSON path's from_json-null contract (count them upstream
against the input if a doc_processor-style num_parse_errors counter is
needed).

An encoder for the same JSON-shaped payload dicts lives here too — it
exists for tests and fixtures (cross-decoder parity: protobuf-decode of
encode(x) must equal the from_json path on json.dumps(x)) and for
synthesizing deterministic benchmark payloads; production input is
whatever bytes the collector shipped.

Field numbers (public opentelemetry-proto, pinned by the hand-written
fixture test in tests/test_otlp_pb.py):

  ExportLogsServiceRequest: resource_logs=1
  ResourceLogs:  resource=1, scope_logs=2
  Resource:      attributes=1
  ScopeLogs:     scope=1, log_records=2
  InstrumentationScope: name=1, version=2
  LogRecord:     time_unix_nano=1(f64), severity_number=2, severity_text=3,
                 body=5, attributes=6, flags=8(f32), trace_id=9, span_id=10,
                 observed_time_unix_nano=11(f64)
  KeyValue:      key=1, value=2
  AnyValue:      string=1, bool=2, int=3, double=4(f64), array=5, kvlist=6,
                 bytes=7
  ExportTraceServiceRequest: resource_spans=1
  ResourceSpans: resource=1, scope_spans=2
  ScopeSpans:    scope=1, spans=2
  Span:          trace_id=1, span_id=2, trace_state=3, parent_span_id=4,
                 name=5, kind=6, start=7(f64), end=8(f64), attributes=9,
                 status=15
  Status:        message=2, code=3

proto3 presence caveat: zero-valued scalars are omitted on the wire, so
an absent fixed64 timestamp and a zero one are indistinguishable — both
surface as NULL, matching a JSON payload that omits the field (the
encoder below omits zero/empty values for the same reason).
"""

from __future__ import annotations

import struct

import pandas as pd
from pyspark.sql import DataFrame

# ---------------------------------------------------------------------------
# wire-format primitives
# ---------------------------------------------------------------------------


def _varint(b: bytes, i: int) -> tuple[int, int]:
    r = 0
    s = 0
    while True:
        if i >= len(b):
            raise ValueError("truncated varint")
        x = b[i]
        i += 1
        r |= (x & 0x7F) << s
        if not x & 0x80:
            return r, i
        s += 7
        if s > 70:
            raise ValueError("varint too long")


def _fields(b: bytes, start: int = 0, end: int | None = None):
    """Yield (field_no, wire_type, value) over one message.
    value: int for wt0 (varint), raw bytes for wt1/wt2/wt5."""
    i = start
    end = len(b) if end is None else end
    while i < end:
        key, i = _varint(b, i)
        fno, wt = key >> 3, key & 7
        if wt == 0:
            v, i = _varint(b, i)
        elif wt == 1:
            v = b[i:i + 8]
            i += 8
        elif wt == 5:
            v = b[i:i + 4]
            i += 4
        elif wt == 2:
            ln, i = _varint(b, i)
            v = b[i:i + ln]
            i += ln
        else:
            raise ValueError(f"unsupported wire type {wt}")
        if i > end:
            raise ValueError("truncated field")
        yield fno, wt, v


def _i64(v: int) -> int:
    """varint -> signed int64 (negatives are 10-byte two's complement)."""
    return v - (1 << 64) if v >= (1 << 63) else v


def _ns64(v: bytes) -> int | None:
    """fixed64 timestamp -> int64-safe nanos. 0 means unset; values
    beyond int64 range (a hostile/corrupt payload — fixed64 is unsigned
    on the wire, the row schema is `long`) -> None, matching the JSON
    path where cast('long') nulls the out-of-range decimal string.
    Without this guard the overflow surfaces in the pandas->Arrow
    conversion OUTSIDE the per-payload try/except and kills the whole
    mapInPandas batch."""
    u = struct.unpack("<Q", v)[0]
    return u if 0 < u < (1 << 63) else None


def _i32(v: int) -> int:
    """varint -> int32 enum field (severity_number / span kind /
    status code; `int` in the row schema). Out-of-range folds to 0 =
    UNSPECIFIED, matching the JSON path's null -> coalesce(0); same
    batch-kill rationale as _ns64."""
    s = _i64(v)
    return s if -(1 << 31) <= s < (1 << 31) else 0


def _utf8(v: bytes) -> str:
    return v.decode("utf-8", "replace")


def _any_to_string(b: bytes) -> str | None:
    """AnyValue -> string form, EXACTLY the JSON path's _any_to_string
    coercion: string as-is, int as decimal string, bool lowercase,
    double via str(); array/kvlist/bytes -> None (declared
    simplification, same as otlp.py)."""
    out = None
    for fno, wt, v in _fields(b):
        if fno == 1 and wt == 2:
            out = _utf8(v)
        elif fno == 2 and wt == 0:
            out = "true" if v else "false"
        elif fno == 3 and wt == 0:
            out = str(_i64(v))
        elif fno == 4 and wt == 1:
            out = str(struct.unpack("<d", v)[0])
        elif fno in (5, 6, 7):
            out = None
    return out


def _attrs(b_list: list[bytes]) -> dict[str, str | None]:
    """KeyValue list -> dict, first occurrence of a key wins (the JSON
    path's hostile-shape dedup in otlp.py _attrs_map)."""
    out: dict[str, str | None] = {}
    for b in b_list:
        key, val = "", None
        for fno, wt, v in _fields(b):
            if fno == 1 and wt == 2:
                key = _utf8(v)
            elif fno == 2 and wt == 2:
                val = _any_to_string(v)
        if key not in out:
            out[key] = val
    return out


def _hex_or_none(v: bytes) -> str | None:
    return v.hex() if v else None


def _scope(b: bytes) -> tuple[str | None, str | None]:
    name = version = None
    for fno, wt, v in _fields(b):
        if fno == 1 and wt == 2:
            name = _utf8(v) or None
        elif fno == 2 and wt == 2:
            version = _utf8(v) or None
    return name, version


# ---------------------------------------------------------------------------
# logs decode (logs.rs:537 parse_otlp_logs_protobuf analog)
# ---------------------------------------------------------------------------

def decode_logs_request(data: bytes) -> list[dict]:
    """ExportLogsServiceRequest bytes -> flattened LogRecord rows
    (identical schema/semantics to otlp.otlp_logs_to_rows)."""
    rows: list[dict] = []
    for fno, wt, rl in _fields(data):
        if fno != 1 or wt != 2:
            continue
        res_attrs: dict = {}
        scope_logs: list[bytes] = []
        for f2, w2, v2 in _fields(rl):
            if f2 == 1 and w2 == 2:  # Resource
                kvs = [v for f3, w3, v in _fields(v2)
                       if f3 == 1 and w3 == 2]
                res_attrs = _attrs(kvs)
            elif f2 == 2 and w2 == 2:
                scope_logs.append(v2)
        service = res_attrs.get("service.name")
        for sl in scope_logs:
            scope_name = scope_version = None
            records: list[bytes] = []
            for f3, w3, v3 in _fields(sl):
                if f3 == 1 and w3 == 2:
                    scope_name, scope_version = _scope(v3)
                elif f3 == 2 and w3 == 2:
                    records.append(v3)
            for rec in records:
                t_ns = obs_ns = None
                sev_text = None
                sev_num = 0
                body = None
                kvs: list[bytes] = []
                trace_id = span_id = None
                for f4, w4, v4 in _fields(rec):
                    if f4 == 1 and w4 == 1:
                        t_ns = _ns64(v4)
                    elif f4 == 2 and w4 == 0:
                        sev_num = _i32(v4)
                    elif f4 == 3 and w4 == 2:
                        sev_text = _utf8(v4) or None
                    elif f4 == 5 and w4 == 2:
                        body = _any_to_string(v4)
                    elif f4 == 6 and w4 == 2:
                        kvs.append(v4)
                    elif f4 == 9 and w4 == 2:
                        trace_id = _hex_or_none(v4)
                    elif f4 == 10 and w4 == 2:
                        span_id = _hex_or_none(v4)
                    elif f4 == 11 and w4 == 1:
                        obs_ns = _ns64(v4)
                rows.append({
                    "timestamp_nanos": t_ns,
                    "observed_timestamp_nanos":
                        obs_ns if obs_ns is not None else t_ns,
                    "service_name": service,
                    "severity_text": sev_text,
                    "severity_number": int(sev_num),
                    "body_message": body,
                    "attributes": _attrs(kvs),
                    "trace_id": trace_id,
                    "span_id": span_id,
                    "resource_attributes": res_attrs,
                    "scope_name": scope_name,
                    "scope_version": scope_version,
                })
    return rows


# ---------------------------------------------------------------------------
# traces decode (traces.rs:877 parse_otlp_spans_protobuf analog)
# ---------------------------------------------------------------------------

def decode_spans_request(data: bytes) -> list[dict]:
    """ExportTraceServiceRequest bytes -> flattened Span rows
    (identical schema/semantics to otlp.otlp_spans_to_rows)."""
    rows: list[dict] = []
    for fno, wt, rs in _fields(data):
        if fno != 1 or wt != 2:
            continue
        res_attrs: dict = {}
        scope_spans: list[bytes] = []
        for f2, w2, v2 in _fields(rs):
            if f2 == 1 and w2 == 2:
                kvs = [v for f3, w3, v in _fields(v2)
                       if f3 == 1 and w3 == 2]
                res_attrs = _attrs(kvs)
            elif f2 == 2 and w2 == 2:
                scope_spans.append(v2)
        service = res_attrs.get("service.name")
        for ss in scope_spans:
            spans: list[bytes] = []
            for f3, w3, v3 in _fields(ss):
                if f3 == 2 and w3 == 2:
                    spans.append(v3)
            for sp in spans:
                trace_id = span_id = parent_id = None
                name = None
                kind = 0
                start = end = None
                kvs: list[bytes] = []
                status_code = 0
                for f4, w4, v4 in _fields(sp):
                    if f4 == 1 and w4 == 2:
                        trace_id = _hex_or_none(v4)
                    elif f4 == 2 and w4 == 2:
                        span_id = _hex_or_none(v4)
                    elif f4 == 4 and w4 == 2:
                        parent_id = _hex_or_none(v4)
                    elif f4 == 5 and w4 == 2:
                        name = _utf8(v4) or None
                    elif f4 == 6 and w4 == 0:
                        kind = _i32(v4)
                    elif f4 == 7 and w4 == 1:
                        start = _ns64(v4)
                    elif f4 == 8 and w4 == 1:
                        end = _ns64(v4)
                    elif f4 == 9 and w4 == 2:
                        kvs.append(v4)
                    elif f4 == 15 and w4 == 2:
                        for f5, w5, v5 in _fields(v4):
                            if f5 == 3 and w5 == 0:
                                status_code = _i32(v5)
                # duration exactly like the JSON path: double division
                # then long cast (truncation), so both paths round the
                # same way on the same inputs
                dur = (int((end - start) / 1_000_000)
                       if start is not None and end is not None else None)
                rows.append({
                    "trace_id": trace_id,
                    "span_id": span_id,
                    "parent_span_id": parent_id,
                    "service_name": service,
                    "span_name": name,
                    "span_kind": int(kind),
                    "span_start_timestamp_nanos": start,
                    "span_end_timestamp_nanos": end,
                    "span_duration_millis": dur,
                    "span_attributes": _attrs(kvs),
                    "span_status_code": int(status_code),
                })
    return rows


# ---------------------------------------------------------------------------
# Spark plumbing: binary payload column -> flattened rows
# ---------------------------------------------------------------------------

LOGS_ROWS_SCHEMA = (
    "timestamp_nanos long, observed_timestamp_nanos long, "
    "service_name string, severity_text string, severity_number int, "
    "body_message string, attributes map<string,string>, "
    "trace_id string, span_id string, "
    "resource_attributes map<string,string>, "
    "scope_name string, scope_version string")

SPANS_ROWS_SCHEMA = (
    "trace_id string, span_id string, parent_span_id string, "
    "service_name string, span_name string, span_kind int, "
    "span_start_timestamp_nanos long, span_end_timestamp_nanos long, "
    "span_duration_millis long, span_attributes map<string,string>, "
    "span_status_code int")

_LOGS_COLS = [c.split(" ")[0] for c in LOGS_ROWS_SCHEMA.split(", ")]
_SPANS_COLS = [c.split(" ")[0] for c in SPANS_ROWS_SCHEMA.split(", ")]


def _map_in_pandas(df: DataFrame, payload_col: str, decode, cols, schema
                   ) -> DataFrame:
    def gen(batches):
        for pdf in batches:
            rows: list[dict] = []
            for raw in pdf[payload_col]:
                if raw is None:
                    continue
                try:
                    rows.extend(decode(bytes(raw)))
                except Exception:
                    # malformed payload -> dropped, one bad payload must
                    # not kill the batch (doc_processor num_parse_errors
                    # philosophy; count upstream if needed)
                    continue
            yield pd.DataFrame(rows, columns=cols, dtype=object)
    return df.select(payload_col).mapInPandas(gen, schema=schema)


def otlp_logs_pb_to_rows(df: DataFrame, payload_col: str = "payload"
                         ) -> DataFrame:
    """Binary ExportLogsServiceRequest column -> LogRecord rows, same
    schema as otlp.otlp_logs_to_rows (format-agnostic downstream)."""
    return _map_in_pandas(df, payload_col, decode_logs_request,
                          _LOGS_COLS, LOGS_ROWS_SCHEMA)


def otlp_spans_pb_to_rows(df: DataFrame, payload_col: str = "payload"
                          ) -> DataFrame:
    """Binary ExportTraceServiceRequest column -> Span rows, same schema
    as otlp.otlp_spans_to_rows."""
    return _map_in_pandas(df, payload_col, decode_spans_request,
                          _SPANS_COLS, SPANS_ROWS_SCHEMA)


# ---------------------------------------------------------------------------
# encoder (tests / fixtures / synthetic benchmarks — JSON-shaped dicts in)
# ---------------------------------------------------------------------------


def _enc_varint(n: int) -> bytes:
    if n < 0:
        n += 1 << 64  # int64 negatives: 10-byte two's complement
    out = bytearray()
    while True:
        x = n & 0x7F
        n >>= 7
        if n:
            out.append(x | 0x80)
        else:
            out.append(x)
            return bytes(out)


def _enc_tag(fno: int, wt: int) -> bytes:
    return _enc_varint(fno << 3 | wt)


def _enc_len(fno: int, payload: bytes) -> bytes:
    return _enc_tag(fno, 2) + _enc_varint(len(payload)) + payload


def _enc_str(fno: int, s: str | None) -> bytes:
    return _enc_len(fno, s.encode()) if s else b""


def _enc_fixed64(fno: int, n) -> bytes:
    n = int(n) if n is not None else 0
    return (_enc_tag(fno, 1) + struct.pack("<Q", n)) if n else b""


def _enc_varint_field(fno: int, n) -> bytes:
    n = int(n) if n is not None else 0
    return (_enc_tag(fno, 0) + _enc_varint(n)) if n else b""


def _enc_bytes_hex(fno: int, hex_str: str | None) -> bytes:
    return _enc_len(fno, bytes.fromhex(hex_str)) if hex_str else b""


def _enc_any(v: dict | None) -> bytes:
    if not v:
        return b""
    if v.get("stringValue") is not None:
        return _enc_len(1, str(v["stringValue"]).encode())
    if v.get("boolValue") is not None:
        return _enc_tag(2, 0) + _enc_varint(1 if v["boolValue"] else 0)
    if v.get("intValue") is not None:
        return _enc_tag(3, 0) + _enc_varint(int(v["intValue"]))
    if v.get("doubleValue") is not None:
        return _enc_tag(4, 1) + struct.pack("<d", float(v["doubleValue"]))
    if v.get("kvlistValue") is not None:  # decodes to NULL by design
        return _enc_len(6, b"")
    if v.get("arrayValue") is not None:
        return _enc_len(5, b"")
    return b""


def _enc_kvs(fno: int, attrs: list[dict] | None) -> bytes:
    out = b""
    for kv in attrs or []:
        body = (_enc_str(1, kv.get("key"))
                + _enc_len(2, _enc_any(kv.get("value"))))
        out += _enc_len(fno, body)
    return out


def _enc_resource(res: dict | None) -> bytes:
    return _enc_kvs(1, (res or {}).get("attributes"))


def _enc_scope(scope: dict | None) -> bytes:
    scope = scope or {}
    return _enc_str(1, scope.get("name")) + _enc_str(2, scope.get("version"))


def encode_logs_request(payload: dict) -> bytes:
    """JSON-shaped ExportLogsServiceRequest dict -> protobuf bytes."""
    out = b""
    for rl in payload.get("resourceLogs") or []:
        rl_b = _enc_len(1, _enc_resource(rl.get("resource")))
        for sl in rl.get("scopeLogs") or []:
            sl_b = _enc_len(1, _enc_scope(sl.get("scope")))
            for rec in sl.get("logRecords") or []:
                rec_b = (
                    _enc_fixed64(1, rec.get("timeUnixNano"))
                    + _enc_varint_field(2, rec.get("severityNumber"))
                    + _enc_str(3, rec.get("severityText"))
                    + (_enc_len(5, _enc_any(rec.get("body")))
                       if rec.get("body") else b"")
                    + _enc_kvs(6, rec.get("attributes"))
                    + _enc_bytes_hex(9, rec.get("traceId"))
                    + _enc_bytes_hex(10, rec.get("spanId"))
                    + _enc_fixed64(11, rec.get("observedTimeUnixNano"))
                )
                sl_b += _enc_len(2, rec_b)
            rl_b += _enc_len(2, sl_b)
        out += _enc_len(1, rl_b)
    return out


def encode_spans_request(payload: dict) -> bytes:
    """JSON-shaped ExportTraceServiceRequest dict -> protobuf bytes."""
    out = b""
    for rs in payload.get("resourceSpans") or []:
        rs_b = _enc_len(1, _enc_resource(rs.get("resource")))
        for ss in rs.get("scopeSpans") or []:
            ss_b = _enc_len(1, _enc_scope(ss.get("scope")))
            for sp in ss.get("spans") or []:
                st = sp.get("status") or {}
                sp_b = (
                    _enc_bytes_hex(1, sp.get("traceId"))
                    + _enc_bytes_hex(2, sp.get("spanId"))
                    + _enc_bytes_hex(4, sp.get("parentSpanId"))
                    + _enc_str(5, sp.get("name"))
                    + _enc_varint_field(6, sp.get("kind"))
                    + _enc_fixed64(7, sp.get("startTimeUnixNano"))
                    + _enc_fixed64(8, sp.get("endTimeUnixNano"))
                    + _enc_kvs(9, sp.get("attributes"))
                    + (_enc_len(15, _enc_str(2, st.get("message"))
                                + _enc_varint_field(3, st.get("code")))
                       if st else b"")
                )
                ss_b += _enc_len(2, sp_b)
            rs_b += _enc_len(2, ss_b)
        out += _enc_len(1, rs_b)
    return out
