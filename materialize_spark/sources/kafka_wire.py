"""Kafka wire protocol: dependency-free client + in-process mini broker.

Reference: the reference's Kafka source consumes topics via librdkafka and
turns records into (key, value, offset, ts) updates feeding envelope
decode (/root/reference/src/storage/src/source/kafka.rs — partition
consumers emit messages with offsets as the progress frontier). The
sandbox has neither a broker nor the spark-sql-kafka connector jar, so —
exactly like sources/pgoutput.py and sources/mysql_binlog.py build CDC
decoders from the PUBLIC wire formats — this module implements the PUBLIC
Kafka protocol (kafka.apache.org/protocol: request framing, ApiVersions
v0, Metadata v0, Produce v2, Fetch v2 with message-set v1) from scratch:

- ``KafkaWireClient``: a minimal TCP client (metadata / produce / fetch).
- ``MiniBroker``: an in-process loopback broker speaking the same APIs —
  the test/emulation peer, like the CDC encoders.
- ``KafkaWireStream``: the continual source. Each poll fetches the
  records past the committed per-partition offsets; a batch up to
  ``DRIVER_FETCH_BYTES`` of records is fetched over one driver
  connection and handed to Spark as a one-partition local frame, so a
  steady tick runs no Spark job to fetch, count or (for ENVELOPE
  UPSERT) compact its records.
- ``read_kafka_wire``: the parallel fetch for larger backlogs (a big
  CREATE SOURCE snapshot, the catch-up after a stall). The driver
  fetches METADATA only, then each Spark task fetches ITS partition
  over its own connection inside Arrow-batched mapInPandas — one
  consumer per partition, the parallel shape of the reference's source
  (and of the real spark-kafka connector).

Records surface as (topic, partition, offset, key, value, timestamp),
feeding the shared envelope decoders unchanged. Offsets are
per-partition monotonic, so resume/rewind is an offset per partition,
matching the reference's progress tracking.
"""

from __future__ import annotations

import socket
import struct
import threading
import zlib
from typing import Iterator

API_PRODUCE, API_FETCH, API_METADATA, API_VERSIONS = 0, 1, 3, 18
API_SASL_HANDSHAKE, API_SASL_AUTHENTICATE = 17, 36
_SASL_MECHS = ("PLAIN", "SCRAM-SHA-256")


# --------------------------------------------------------------------------
# primitive encoders (big-endian, per the protocol guide)
def _str(s: str | None) -> bytes:
    if s is None:
        return struct.pack(">h", -1)
    raw = s.encode()
    return struct.pack(">h", len(raw)) + raw


def _bytes(b: bytes | None) -> bytes:
    if b is None:
        return struct.pack(">i", -1)
    return struct.pack(">i", len(b)) + b


def _arr(items: list[bytes]) -> bytes:
    return struct.pack(">i", len(items)) + b"".join(items)


class _Reader:
    def __init__(self, buf: bytes):
        self.buf = buf
        self.pos = 0

    def take(self, fmt: str):
        vals = struct.unpack_from(">" + fmt, self.buf, self.pos)
        self.pos += struct.calcsize(">" + fmt)
        return vals if len(vals) > 1 else vals[0]

    def string(self) -> str | None:
        n = self.take("h")
        if n < 0:
            return None
        s = self.buf[self.pos:self.pos + n].decode()
        self.pos += n
        return s

    def bytes_(self) -> bytes | None:
        n = self.take("i")
        if n < 0:
            return None
        b = self.buf[self.pos:self.pos + n]
        self.pos += n
        return b

    def raw(self, n: int) -> bytes:
        b = self.buf[self.pos:self.pos + n]
        self.pos += n
        return b


# --------------------------------------------------------------------------
# message-set v1 (magic 1: crc32, attributes, timestamp, key, value)
def encode_message_set(records: list[tuple[int, bytes | None, bytes | None,
                                           int]]) -> bytes:
    """records: [(offset, key, value, timestamp_ms)] → wire message set."""
    out = bytearray()
    for offset, key, value, ts in records:
        body = (struct.pack(">bb q", 1, 0, ts)
                + _bytes(key) + _bytes(value))
        crc = zlib.crc32(body) & 0xFFFFFFFF
        msg = struct.pack(">I", crc) + body
        out += struct.pack(">q", offset) + struct.pack(">i", len(msg)) + msg
    return bytes(out)


def decode_message_set(buf: bytes) -> list[tuple[int, bytes | None,
                                                 bytes | None, int]]:
    out = []
    pos = 0
    while pos + 12 <= len(buf):
        (offset, size) = struct.unpack_from(">qi", buf, pos)
        pos += 12
        if pos + size > len(buf):
            break  # partial trailing message (fetch truncation): drop
        msg = buf[pos:pos + size]
        pos += size
        (crc,) = struct.unpack_from(">I", msg, 0)
        body = msg[4:]
        if zlib.crc32(body) & 0xFFFFFFFF != crc:
            raise ValueError(f"message CRC mismatch at offset {offset}")
        r = _Reader(body)
        magic, attrs = r.take("b"), r.take("b")
        ts = r.take("q") if magic >= 1 else -1
        if attrs & 0x07:
            raise ValueError("compressed message sets not supported")
        key = r.bytes_()
        value = r.bytes_()
        out.append((offset, key, value, ts))
    return out


# --------------------------------------------------------------------------
# record batch v2 (magic 2, KIP-98 format): the format that carries
# RECORD HEADERS (kafka.apache.org/documentation/#recordbatch). The
# reference's Kafka source surfaces these via INCLUDE HEADERS / HEADER
# 'key' (src/storage-types/src/sources/kafka.rs:534-540); message-set
# v0/v1 has no header field at all, so header-bearing produces use this
# format. v2 checksums with CRC-32C (Castagnoli), not CRC-32.

_CRC32C_TABLE = None


def _crc32c(data: bytes) -> int:
    """Software CRC-32C (Castagnoli, poly 0x1EDC6F41 reflected) — the
    public checksum record batch v2 mandates; table built once."""
    global _CRC32C_TABLE
    if _CRC32C_TABLE is None:
        tbl = []
        for n in range(256):
            c = n
            for _ in range(8):
                c = (c >> 1) ^ 0x82F63B78 if c & 1 else c >> 1
            tbl.append(c)
        _CRC32C_TABLE = tbl
    crc = 0xFFFFFFFF
    tbl = _CRC32C_TABLE
    for b in data:
        crc = tbl[(crc ^ b) & 0xFF] ^ (crc >> 8)
    return crc ^ 0xFFFFFFFF


def _zigzag(n: int) -> int:
    return (n << 1) ^ (n >> 63)


def _unzigzag(n: int) -> int:
    return (n >> 1) ^ -(n & 1)


def _varint(n: int) -> bytes:
    """Zigzag varint (protobuf wire format, per the Kafka record spec)."""
    u = _zigzag(n) & 0xFFFFFFFFFFFFFFFF
    out = bytearray()
    while True:
        b = u & 0x7F
        u >>= 7
        if u:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _read_varint(r: "_Reader") -> int:
    shift = u = 0
    while True:
        b = r.raw(1)[0]
        u |= (b & 0x7F) << shift
        if not b & 0x80:
            return _unzigzag(u)
        shift += 7


def _vbytes(b: bytes | None) -> bytes:
    if b is None:
        return _varint(-1)
    return _varint(len(b)) + b


Headers = list[tuple[str, bytes | None]]


def encode_record_batch(records: list[tuple[int, bytes | None,
                                            bytes | None, int, Headers]],
                        base_offset: int = 0) -> bytes:
    """records: [(offset, key, value, ts_ms, headers)] → one magic-2
    record batch. Offsets/timestamps are stored as deltas per the spec."""
    if not records:
        return b""
    base_ts = min(ts for _o, _k, _v, ts, _h in records)
    max_ts = max(ts for _o, _k, _v, ts, _h in records)
    recs = bytearray()
    for off, key, value, ts, headers in records:
        body = bytearray()
        body += b"\x00"                      # record attributes
        body += _varint(ts - base_ts)        # timestampDelta
        body += _varint(off - base_offset)   # offsetDelta
        body += _vbytes(key)
        body += _vbytes(value)
        body += _varint(len(headers))
        for hk, hv in headers:
            hkb = hk.encode()
            recs_h = _varint(len(hkb)) + hkb + _vbytes(hv)
            body += recs_h
        recs += _varint(len(body)) + bytes(body)
    # the CRC covers everything AFTER the crc field
    after_crc = (struct.pack(">hiqq qhi i", 0,            # attributes
                             len(records) - 1,            # lastOffsetDelta
                             base_ts, max_ts,
                             -1, -1, -1,                   # producer id/epoch/seq
                             len(records)) + bytes(recs))
    batch = (struct.pack(">i b I", -1, 2, _crc32c(after_crc))  # leaderEpoch, magic, crc
             + after_crc)
    return struct.pack(">q i", base_offset, len(batch)) + batch


def _decode_record_batch(buf: bytes) -> list[tuple[int, bytes | None,
                                                   bytes | None, int,
                                                   Headers]]:
    out: list = []
    pos = 0
    while pos + 12 <= len(buf):
        (base_offset, size) = struct.unpack_from(">qi", buf, pos)
        pos += 12
        if pos + size > len(buf):
            break  # partial trailing batch (fetch truncation): drop
        batch = buf[pos:pos + size]
        pos += size
        r = _Reader(batch)
        r.take("i")                      # partitionLeaderEpoch
        magic = r.take("b")
        if magic != 2:
            raise ValueError(f"unexpected magic {magic} in record batch")
        crc = r.take("I")
        rest = batch[r.pos:]
        if _crc32c(rest) != crc:
            raise ValueError("record batch CRC-32C mismatch")
        attrs = r.take("h")
        if attrs & 0x07:
            raise ValueError("compressed record batches not supported")
        r.take("i")                      # lastOffsetDelta
        base_ts = r.take("q")
        r.take("q")                      # maxTimestamp
        r.take("q"); r.take("h"); r.take("i")  # producer id/epoch/seq
        n = r.take("i")
        for _ in range(n):
            _rlen = _read_varint(r)
            r.take("b")                  # record attributes
            ts_delta = _read_varint(r)
            off_delta = _read_varint(r)
            klen = _read_varint(r)
            key = r.raw(klen) if klen >= 0 else None
            vlen = _read_varint(r)
            value = r.raw(vlen) if vlen >= 0 else None
            headers: Headers = []
            for _h in range(_read_varint(r)):
                hklen = _read_varint(r)
                hk = r.raw(hklen).decode()
                hvlen = _read_varint(r)
                hv = r.raw(hvlen) if hvlen >= 0 else None
                headers.append((hk, hv))
            out.append((base_offset + off_delta, key, value,
                        base_ts + ts_delta, headers))
    return out


def encode_records(records: list[tuple]) -> bytes:
    """Encode log records [(offset, key, value, ts[, headers])]: the
    v1 message set when no record carries headers (the pre-KIP-98
    format every consumer reads), the magic-2 record batch when any
    does (headers exist only in v2)."""
    norm = [(r + ([],) if len(r) == 4 else r) for r in records]
    if any(h for _o, _k, _v, _t, h in norm):
        return encode_record_batch(norm,
                                   base_offset=norm[0][0] if norm else 0)
    return encode_message_set([(o, k, v, t)
                               for o, k, v, t, _h in norm])


def decode_records(buf: bytes) -> list[tuple[int, bytes | None,
                                             bytes | None, int, Headers]]:
    """Decode either wire format into 5-tuples (offset, key, value,
    ts, headers). Disambiguation is the spec's own: byte 16 is the
    magic in BOTH layouts (v0/v1: offset+size+crc precede it; v2:
    offset+length+leaderEpoch precede it)."""
    if len(buf) > 16 and buf[16] == 2:
        return _decode_record_batch(buf)
    return [(o, k, v, t, []) for o, k, v, t in decode_message_set(buf)]


# --------------------------------------------------------------------------
# client
class KafkaWireClient:
    """Blocking single-connection Kafka client (metadata/produce/fetch)."""

    def __init__(self, host: str, port: int, client_id: str = "mz-spark",
                 *, ssl_context=None,
                 sasl: tuple[str, str, str] | None = None):
        """``sasl``: (mechanism, username, password) with mechanism PLAIN
        or SCRAM-SHA-256 — the SaslHandshake/SaslAuthenticate flow a real
        broker's SASL listener requires (reference Kafka connection SASL
        options, src/storage-types/src/connections.rs)."""
        self.sock = socket.create_connection((host, port), timeout=10)
        if ssl_context is not None:
            # a TLS listener speaks TLS from byte 0 (like a real broker's
            # SSL endpoint — no STARTTLS in the Kafka protocol)
            self.sock = ssl_context.wrap_socket(self.sock,
                                                server_hostname=host)
        self.client_id = client_id
        self._corr = 0
        if sasl is not None:
            self._sasl_login(*sasl)

    def _sasl_round(self, data: bytes) -> bytes:
        r = self._roundtrip(API_SASL_AUTHENTICATE, 0,
                            struct.pack(">i", len(data)) + data)
        err = r.take("h")
        msg = r.string()
        if err:
            raise ValueError(f"SASL authentication failed: {msg or err}")
        return r.bytes_() or b""

    def _sasl_login(self, mech: str, user: str, password: str) -> None:
        from materialize_spark import scram as _scram
        r = self._roundtrip(API_SASL_HANDSHAKE, 1, _str(mech))
        err = r.take("h")
        if err:
            offered = [r.string() for _ in range(max(r.take("i"), 0))]
            raise ValueError(f"mechanism {mech} rejected ({err}); "
                             f"broker offers {offered}")
        r.take("i")  # enabled mechanisms (success path)
        if mech == "PLAIN":
            self._sasl_round(b"\0" + user.encode()
                             + b"\0" + password.encode())
        elif mech == "SCRAM-SHA-256":
            first, st = _scram.client_first(user)
            sf = self._sasl_round(first.encode()).decode()
            final, st = _scram.client_final(password, st, sf)
            server_final = self._sasl_round(final.encode()).decode()
            if not _scram.client_check(st, server_final):
                raise ValueError("SASL server signature mismatch")
        else:
            raise ValueError(f"unsupported SASL mechanism {mech}")

    def close(self) -> None:
        try:
            self.sock.close()
        except OSError:
            pass

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self.close()

    def _roundtrip(self, api_key: int, api_version: int, body: bytes) -> _Reader:
        self._corr += 1
        header = (struct.pack(">hhi", api_key, api_version, self._corr)
                  + _str(self.client_id))
        frame = header + body
        self.sock.sendall(struct.pack(">i", len(frame)) + frame)
        raw = self._recv_frame()
        r = _Reader(raw)
        corr = r.take("i")
        if corr != self._corr:
            raise ValueError(f"correlation mismatch {corr} != {self._corr}")
        return r

    def _recv_frame(self) -> bytes:
        hdr = self._recv_exact(4)
        (size,) = struct.unpack(">i", hdr)
        return self._recv_exact(size)

    def _recv_exact(self, n: int) -> bytes:
        buf = bytearray()
        while len(buf) < n:
            chunk = self.sock.recv(n - len(buf))
            if not chunk:
                raise ConnectionError("broker closed connection")
            buf += chunk
        return bytes(buf)

    # -- APIs ---------------------------------------------------------------
    def api_versions(self) -> dict[int, tuple[int, int]]:
        r = self._roundtrip(API_VERSIONS, 0, b"")
        err = r.take("h")
        if err:
            raise ValueError(f"ApiVersions error {err}")
        out = {}
        for _ in range(r.take("i")):
            k, lo, hi = r.take("hhh")
            out[k] = (lo, hi)
        return out

    def metadata(self, topics: list[str] | None = None) -> dict:
        body = _arr([_str(t) for t in (topics or [])])
        r = self._roundtrip(API_METADATA, 0, body)
        brokers = []
        for _ in range(r.take("i")):
            node = r.take("i")
            host = r.string()
            port = r.take("i")
            brokers.append({"node": node, "host": host, "port": port})
        tops = {}
        for _ in range(r.take("i")):
            terr = r.take("h")
            tname = r.string()
            parts = []
            for _ in range(r.take("i")):
                # error int16, partition int32, leader int32,
                # replicas [int32], isr [int32]
                perr = r.take("h")
                pid = r.take("i")
                leader = r.take("i")
                replicas = [r.take("i") for _ in range(r.take("i"))]
                isr = [r.take("i") for _ in range(r.take("i"))]
                parts.append({"error": perr, "partition": pid,
                              "leader": leader, "replicas": replicas,
                              "isr": isr})
            tops[tname] = {"error": terr, "partitions": parts}
        return {"brokers": brokers, "topics": tops}

    def produce(self, topic: str, partition: int,
                records: list[tuple],
                base_offset_hint: int = -1) -> int:
        """Append records [(key, value, ts_ms[, headers])]; returns the
        base offset. Headers ([(name, bytes|None)] pairs) force the
        magic-2 record-batch format over Produce v3 (the version that
        introduced it, KIP-98); header-less records keep the v1
        message set over Produce v2."""
        norm = [(r + ([],) if len(r) == 3 else r) for r in records]
        with_headers = any(h for _k, _v, _t, h in norm)
        ms = encode_records(
            [(i, k, v, ts, h) for i, (k, v, ts, h) in enumerate(norm)])
        body = (struct.pack(">hi", 1, 10_000)
                + _arr([_str(topic) + _arr([
                    struct.pack(">i", partition) + _bytes(ms)])]))
        if with_headers:
            # Produce v3 request prepends a nullable transactional_id
            body = _str(None) + body
        r = self._roundtrip(API_PRODUCE, 3 if with_headers else 2, body)
        n_topics = r.take("i")
        base = -1
        for _ in range(n_topics):
            r.string()
            for _ in range(r.take("i")):
                _pid = r.take("i")
                err = r.take("h")
                base = r.take("q")
                _ts = r.take("q")
                if err:
                    raise ValueError(f"produce error {err}")
        r.take("i")  # throttle_time_ms
        return base

    def fetch(self, topic: str, partition: int, offset: int = 0,
              max_bytes: int = 1 << 22,
              with_headers: bool = False) -> tuple[int, list]:
        """(high_watermark, records) from ``offset``. Records are
        (offset, key, value, ts) 4-tuples, or 5-tuples with the record
        headers appended when ``with_headers`` (both wire formats
        decode; v0/v1 records carry no headers → [])."""
        body = (struct.pack(">iii", -1, 100, 1)
                + _arr([_str(topic) + _arr([
                    struct.pack(">iqi", partition, offset, max_bytes)])]))
        r = self._roundtrip(API_FETCH, 2, body)
        r.take("i")  # throttle_time_ms
        records: list = []
        hw = -1
        for _ in range(r.take("i")):
            r.string()
            for _ in range(r.take("i")):
                _pid = r.take("i")
                err = r.take("h")
                hw = r.take("q")
                ms = r.bytes_() or b""
                if err:
                    raise ValueError(f"fetch error {err}")
                recs = decode_records(ms)
                records.extend(
                    recs if with_headers else
                    [(o, k, v, t) for o, k, v, t, _h in recs])
        return hw, records

    def fetch_all(self, topic: str, partition: int,
                  offset: int = 0, max_bytes: int = 1 << 22,
                  with_headers: bool = False) -> list:
        """Drain a partition from ``offset`` to the high watermark.

        Resilient to the broker realities a real consumer must handle
        (reference kafka.rs reads through librdkafka, which does the
        same): responses capped below the full backlog (multi-batch
        drain — keep fetching while behind the watermark) and a
        response whose only content is a PARTIAL trailing message
        (fetch-size truncation mid-record): progress is impossible at
        the current fetch size, so double it and retry rather than
        treating the empty decode as end-of-partition."""
        out: list = []
        size = max_bytes
        while True:
            hw, recs = self.fetch(topic, partition, offset,
                                  max_bytes=size,
                                  with_headers=with_headers)
            if recs:
                out.extend(recs)
                offset = recs[-1][0] + 1
                size = max_bytes
            elif offset < hw:
                size *= 2  # partial-only response: grow the window
                if size > 1 << 30:
                    raise ValueError(
                        f"cannot make progress at offset {offset}: "
                        f"single message exceeds 1 GiB fetch cap")
                continue
            if offset >= hw:
                return out


# --------------------------------------------------------------------------
# in-process broker (test/emulation peer; loopback TCP)
class MiniBroker:
    """Single-node broker: topic → partition → [(offset, key, value, ts)].

    Speaks ApiVersions v0, Metadata v0, Produce v0-v2, Fetch v0-v2 — the
    subset a pre-KIP-482 consumer needs. One thread per connection."""

    def __init__(self, host: str = "127.0.0.1", port: int = 0, *,
                 ssl_context=None,
                 sasl_users: dict[str, str] | None = None):
        self._ssl_ctx = ssl_context  # TLS listener mode (cert required)
        # SASL listener mode: user -> password; PLAIN checks the raw
        # password, SCRAM-SHA-256 only ever touches derived verifiers
        self._sasl_plain = dict(sasl_users or {})
        from materialize_spark.scram import scram_verifier as _sv
        self._sasl_scram = {u: _sv(p) for u, p in self._sasl_plain.items()}
        self._log: dict[str, dict[int, list]] = {}
        # fault injection (protocol-conformance tests): api_key → Kafka
        # error code returned at the partition level, like a real broker
        # surfacing UNSUPPORTED_VERSION / NOT_LEADER / etc.
        self.inject_errors: dict[int, int] = {}
        self._lock = threading.Lock()
        self._srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
        self._srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
        self._srv.bind((host, port))
        self._srv.listen(16)
        self.host, self.port = self._srv.getsockname()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._accept_loop,
                                        daemon=True)
        self._thread.start()

    # -- local log management ------------------------------------------------
    def create_topic(self, topic: str, partitions: int = 1) -> None:
        with self._lock:
            self._log.setdefault(
                topic, {p: [] for p in range(partitions)})

    def append(self, topic: str, partition: int,
               records: list[tuple]) -> int:
        """Local-append helper (tests can seed without a producer).
        Records are (key, value, ts) or (key, value, ts, headers)."""
        with self._lock:
            part = self._log.setdefault(topic, {}).setdefault(partition, [])
            base = len(part)
            for i, rec in enumerate(records):
                k, v, ts = rec[:3]
                headers = rec[3] if len(rec) > 3 else []
                part.append((base + i, k, v, ts, headers))
            return base

    def close(self) -> None:
        self._stop.set()
        try:
            self._srv.close()
        except OSError:
            pass

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self.close()

    # -- wire ----------------------------------------------------------------
    def _accept_loop(self) -> None:
        while not self._stop.is_set():
            try:
                conn, _addr = self._srv.accept()
            except OSError:
                return
            threading.Thread(target=self._serve, args=(conn,),
                             daemon=True).start()

    def _serve(self, conn: socket.socket) -> None:
        # per-connection SASL state (a real broker authenticates each
        # connection; IllegalSaslState closes unauthenticated traffic)
        sasl_state = {"authed": not self._sasl_plain, "mech": None,
                      "scram": None, "user": None}
        try:
            if self._ssl_ctx is not None:
                conn = self._ssl_ctx.wrap_socket(conn, server_side=True)
            while True:
                hdr = self._recv_exact(conn, 4)
                if hdr is None:
                    return
                (size,) = struct.unpack(">i", hdr)
                frame = self._recv_exact(conn, size)
                if frame is None:
                    return
                resp = self._handle(frame, sasl_state)
                if resp is None:  # unauthenticated non-SASL request
                    return
                conn.sendall(struct.pack(">i", len(resp)) + resp)
        except (ConnectionError, OSError):
            pass
        finally:
            try:
                conn.close()
            except OSError:
                pass

    @staticmethod
    def _recv_exact(conn: socket.socket, n: int) -> bytes | None:
        buf = bytearray()
        while len(buf) < n:
            chunk = conn.recv(n - len(buf))
            if not chunk:
                return None
            buf += chunk
        return bytes(buf)

    def _handle(self, frame: bytes,
                sasl_state: dict | None = None) -> bytes | None:
        from materialize_spark import scram as _scram
        st = sasl_state if sasl_state is not None else {"authed": True}
        r = _Reader(frame)
        api_key, api_version, corr = r.take("hhi")
        r.string()  # client_id
        head = struct.pack(">i", corr)
        if api_key == API_SASL_HANDSHAKE:
            mech = r.string() or ""
            mechs = _arr([_str(m) for m in _SASL_MECHS])
            if not self._sasl_plain or mech not in _SASL_MECHS:
                # 33 = UNSUPPORTED_SASL_MECHANISM
                return head + struct.pack(">h", 33) + mechs
            st["mech"] = mech
            return head + struct.pack(">h", 0) + mechs
        if api_key == API_SASL_AUTHENTICATE:
            tok = r.bytes_() or b""

            def fail(msg: str) -> bytes:
                # 58 = SASL_AUTHENTICATION_FAILED
                return (head + struct.pack(">h", 58) + _str(msg)
                        + struct.pack(">i", 0))

            def ok(data: bytes = b"") -> bytes:
                return (head + struct.pack(">h", 0) + _str(None)
                        + struct.pack(">i", len(data)) + data)

            if st.get("mech") == "PLAIN":
                parts = tok.split(b"\0")
                if len(parts) != 3:
                    return fail("malformed PLAIN token")
                user, pw = parts[1].decode(), parts[2].decode()
                if self._sasl_plain.get(user) != pw:
                    return fail("authentication failed")
                st["authed"], st["user"] = True, user
                return ok()
            if st.get("mech") == "SCRAM-SHA-256":
                if st.get("scram") is None:
                    first = tok.decode()
                    user = _scram.scram_attrs(
                        first[3:] if first[:3] in ("n,,", "y,,")
                        else first).get("n", "")
                    ver = self._sasl_scram.get(user) or \
                        _scram.scram_verifier(
                            "no-such-user",
                            salt=_scram.h(user.encode())[:16])
                    try:
                        sf, state = _scram.server_first(ver, first)
                    except ValueError as ex:
                        return fail(str(ex))
                    st["scram"] = (user, ver, state)
                    return ok(sf.encode())
                user, ver, state = st["scram"]
                st["scram"] = None
                good, server_final = _scram.server_verify(
                    ver, state, tok.decode())
                if not good or user not in self._sasl_scram:
                    return fail("authentication failed")
                st["authed"], st["user"] = True, user
                return ok(server_final.encode())
            return fail("SaslHandshake required first")
        if not st.get("authed"):
            return None  # close: unauthenticated non-SASL request
        if api_key == API_VERSIONS:
            # Produce up to v3 (magic-2 record batches with headers);
            # the rest at their implemented v0-v2 range
            body = struct.pack(">h", 0) + _arr([
                struct.pack(">hhh", k, 0, 3 if k == API_PRODUCE else 2)
                for k in (API_PRODUCE, API_FETCH, API_METADATA,
                          API_VERSIONS)])
            return head + body
        if api_key == API_METADATA:
            wanted = [r.string() for _ in range(max(r.take("i"), 0))]
            with self._lock:
                names = wanted or sorted(self._log)
                topics = []
                for t in names:
                    parts = self._log.get(t)
                    if parts is None:
                        topics.append(struct.pack(">h", 3) + _str(t)
                                      + _arr([]))  # UNKNOWN_TOPIC
                        continue
                    # error int16, partition int32, leader int32,
                    # replicas [int32], isr [int32]
                    pmeta = [struct.pack(">hii", 0, p, 0)
                             + _arr([struct.pack(">i", 0)])
                             + _arr([struct.pack(">i", 0)])
                             for p in sorted(parts)]
                    topics.append(struct.pack(">h", 0) + _str(t)
                                  + _arr(pmeta))
            brokers = _arr([struct.pack(">i", 0) + _str(self.host)
                            + struct.pack(">i", self.port)])
            return head + brokers + _arr(topics)
        if api_key == API_PRODUCE:
            if api_version >= 3:
                r.string()  # transactional_id (nullable, KIP-98)
            _acks = r.take("h")
            _timeout = r.take("i")
            out_topics = []
            for _ in range(r.take("i")):
                t = r.string()
                out_parts = []
                for _ in range(r.take("i")):
                    pid = r.take("i")
                    ms = r.bytes_() or b""
                    recs = decode_records(ms)
                    base = self.append(
                        t, pid,
                        [(k, v, ts, h) for _o, k, v, ts, h in recs])
                    part = struct.pack(">ihq", pid, 0, base)
                    if api_version >= 2:
                        part += struct.pack(">q", -1)  # log_append_time
                    out_parts.append(part)
                out_topics.append(_str(t) + _arr(out_parts))
            body = _arr(out_topics)
            if api_version >= 1:
                body += struct.pack(">i", 0)  # throttle_time_ms
            return head + body
        if api_key == API_FETCH:
            _replica = r.take("i")
            _max_wait = r.take("i")
            _min_bytes = r.take("i")
            out_topics = []
            for _ in range(r.take("i")):
                t = r.string()
                out_parts = []
                for _ in range(r.take("i")):
                    pid = r.take("i")
                    off = r.take("q")
                    maxb = r.take("i")
                    inj = self.inject_errors.get(API_FETCH)
                    if inj:
                        out_parts.append(
                            struct.pack(">ihq", pid, inj, -1)
                            + _bytes(b""))
                        continue
                    with self._lock:
                        part = self._log.get(t, {}).get(pid)
                    if part is None:
                        out_parts.append(
                            struct.pack(">ihq", pid, 3, -1) + _bytes(b""))
                        continue
                    hw = len(part)
                    # encode_records picks the wire format: v1 message
                    # set unless some record carries headers (magic-2
                    # record batch — the only format with headers)
                    ms = encode_records(part[off:off + 1000])[:maxb]
                    out_parts.append(
                        struct.pack(">ihq", pid, 0, hw) + _bytes(ms))
                out_topics.append(_str(t) + _arr(out_parts))
            body = b""
            if api_version >= 1:
                body += struct.pack(">i", 0)  # throttle_time_ms
            body += _arr(out_topics)
            return head + body
        # unsupported API: error out loudly (correlation id + empty body
        # would hang clients; better to close)
        raise ValueError(f"unsupported api_key {api_key}")


# --------------------------------------------------------------------------
# Spark source
def _partition_ids(c: KafkaWireClient, topic: str) -> list[int]:
    """The topic's partition ids, from one Metadata round trip."""
    meta = c.metadata([topic])["topics"].get(topic)
    if meta is None:
        return []
    if meta["error"]:
        raise ValueError(f"metadata error {meta['error']} for {topic!r}")
    return sorted(p["partition"] for p in meta["partitions"])


def kafka_partitions(bootstrap: str, topic: str,
                     ssl_conf: dict | None = None,
                     sasl: tuple[str, str, str] | None = None) -> list[int]:
    """Driver-side metadata probe (K rows — partition ids only)."""
    from materialize_spark.sources.tlsconf import client_context
    host, port = bootstrap.rsplit(":", 1)
    with KafkaWireClient(host, int(port),
                         ssl_context=client_context(ssl_conf),
                         sasl=sasl) as c:
        return _partition_ids(c, topic)


KAFKA_SCHEMA = ("topic string, partition int, offset long, "
                "key binary, value binary, timestamp timestamp")
# with INCLUDE HEADERS: record headers decode to a list of (key, value)
# records — the reference's headers column type
# (src/storage-types/src/sources/kafka.rs:299)
KAFKA_SCHEMA_H = (KAFKA_SCHEMA
                  + ", headers array<struct<key: string, value: binary>>")


def _record_columns(topic: str, recs: list[tuple[int, tuple]],
                    include_headers: bool) -> dict[str, list]:
    """(partition, record) pairs → the KAFKA_SCHEMA[_H] columns, with
    timestamps as epoch ms (None where the record carries none)."""
    cols = {"topic": [topic] * len(recs),
            "partition": [p for p, _r in recs],
            "offset": [r[0] for _p, r in recs],
            "key": [r[1] for _p, r in recs],
            "value": [r[2] for _p, r in recs],
            "timestamp": [r[3] if r[3] >= 0 else None for _p, r in recs]}
    if include_headers:
        cols["headers"] = [[{"key": hk, "value": hv} for hk, hv in r[4]]
                           for _p, r in recs]
    return cols


def newest_per_key(recs: list[tuple[int, tuple]]) -> list[tuple[int, tuple]]:
    """The newest of the (partition, record) pairs per raw record key:
    highest (partition, offset) wins, the order ENVELOPE UPSERT ranks
    by (``upsert_latest`` over (partition, offset) DESC). Tombstones
    are kept — the newest record of a key may delete it."""
    latest: dict[bytes | None, tuple[int, tuple]] = {}
    for pr in recs:
        cur = latest.get(pr[1][1])
        if cur is None or (pr[0], pr[1][0]) > (cur[0], cur[1][0]):
            latest[pr[1][1]] = pr
    return list(latest.values())


def read_kafka_wire(spark, bootstrap: str, topic: str, *,
                    starting_offsets: dict[int, int] | None = None,
                    ssl_conf: dict | None = None,
                    sasl: tuple[str, str, str] | None = None,
                    include_headers: bool = False):
    """Kafka topic → DataFrame(topic, partition, offset, key, value,
    timestamp[, headers]) fetched by Spark tasks — the same output
    contract as the spark-sql-kafka connector's batch read (its
    includeHeaders option maps to ``include_headers``).

    The driver reads only metadata; each task opens its own connection
    and drains its assigned partition from ``starting_offsets``, so the
    fetch parallelism is the topic's partition count (kafka.rs's
    partition consumer model). ``KafkaWireStream.poll`` takes this path
    only for backlogs above ``DRIVER_FETCH_BYTES``."""
    import pandas as pd

    parts = kafka_partitions(bootstrap, topic, ssl_conf, sasl)
    starts = starting_offsets or {}
    host, port = bootstrap.rsplit(":", 1)
    port_i = int(port)
    assign = spark.createDataFrame(
        [(p,) for p in parts], "partition int"
    ).repartition(max(len(parts), 1), "partition")

    def fetch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from materialize_spark.sources.tlsconf import client_context
        ctx = client_context(ssl_conf)  # built per task: an
        # SSLContext cannot ride a pickled closure; the conf dict can
        for pdf in batches:
            recs = []
            for pid in pdf["partition"]:
                pid = int(pid)
                with KafkaWireClient(host, port_i, ssl_context=ctx,
                                     sasl=sasl) as c:
                    recs += [(pid, r) for r in c.fetch_all(
                        topic, pid, starts.get(pid, 0),
                        with_headers=include_headers)]
            out = pd.DataFrame(_record_columns(topic, recs,
                                               include_headers))
            # pinned dtype: an empty batch would infer float64, which
            # Arrow cannot cast to timestamp
            out["timestamp"] = pd.to_datetime(out["timestamp"], unit="ms")
            yield out

    return assign.mapInPandas(
        fetch,
        schema=KAFKA_SCHEMA_H if include_headers else KAFKA_SCHEMA)


# The most record bytes a poll holds in the driver: one default fetch
# window (KafkaWireClient.fetch max_bytes). A poll whose records past
# the committed offsets fit is fetched, counted and compacted in the
# driver and costs no Spark job; the driver stops fetching as soon as
# the bytes it has seen exceed this, and the poll is fetched by Spark
# tasks (read_kafka_wire) instead. A record counts its key, its value
# and the 34 bytes a v1 message set spends on each record, so neither
# large values nor many tiny records pile up in the driver.
DRIVER_FETCH_BYTES = 1 << 22
_RECORD_OVERHEAD = 34


def _local_frame(spark, cols: dict[str, list], include_headers: bool):
    """One-partition driver-local frame of KAFKA_SCHEMA[_H] columns."""
    import pyarrow as pa
    fields = [("topic", pa.string()), ("partition", pa.int32()),
              ("offset", pa.int64()), ("key", pa.binary()),
              ("value", pa.binary()), ("timestamp", pa.timestamp("ms"))]
    if include_headers:
        fields.append(("headers", pa.list_(pa.struct(
            [("key", pa.string()), ("value", pa.binary())]))))
    table = pa.Table.from_pydict(cols, schema=pa.schema(fields))
    df = spark.createDataFrame(
        table, KAFKA_SCHEMA_H if include_headers else KAFKA_SCHEMA)
    # a local relation scans as up to defaultParallelism slices; one
    # partition keeps a collection it is unioned into from growing
    return df.coalesce(1)


class KafkaWireStream:
    """Continual ingestion over the wire: micro-batch pulls with durable
    per-partition offsets — the reference's Kafka source loop (kafka.rs:
    consume, emit, advance the offset frontier) expressed as repeated
    bounded reads feeding the envelope merges of ``tick_sources``.

    ``poll()`` returns the next micro-batch DataFrame (possibly empty)
    and sets ``polled`` to its raw record count. A batch whose records
    fit in ``DRIVER_FETCH_BYTES`` is fetched over one driver
    connection and returned as a one-partition local frame, so polling,
    counting and compacting it run no Spark job; a larger backlog is
    fetched by one Spark task per partition. The committed offsets advance only
    when the caller's consumer ran — call ``commit()`` when the batch
    is applied, so a failed batch is re-polled from the same offsets
    (at-least-once, like the reference before persist dedupes)."""

    def __init__(self, spark, bootstrap: str, topic: str, *,
                 starting_offsets: dict[int, int] | None = None,
                 ssl_conf: dict | None = None,
                 sasl: tuple[str, str, str] | None = None,
                 include_headers: bool = False):
        self.spark = spark
        self.bootstrap = bootstrap
        self.topic = topic
        self.ssl_conf = ssl_conf
        self.sasl = sasl
        self.include_headers = include_headers
        self.offsets: dict[int, int] = dict(starting_offsets or {})
        self._pending: dict[int, int] | None = None
        self.polled = 0

    def poll(self, compact: bool = False):
        """Fetch everything new past the committed offsets as one batch
        frame; remembers the batch's end offsets for commit() and its
        raw record count in ``polled``. ``compact`` keeps only the
        newest record per raw key (tombstones included), the input
        ENVELOPE UPSERT needs."""
        from materialize_spark.sources.tlsconf import client_context
        host, port = self.bootstrap.rsplit(":", 1)
        with KafkaWireClient(host, int(port),
                             ssl_context=client_context(self.ssl_conf),
                             sasl=self.sasl) as c:
            recs = self._fetch(c)
        if recs is None:
            batch, ends, self.polled = self._poll_in_tasks(compact)
        else:
            ends = {p: r[0] + 1 for p, r in recs}
            self.polled = len(recs)
            if compact:
                recs = newest_per_key(recs)
            batch = _local_frame(
                self.spark,
                _record_columns(self.topic, recs, self.include_headers),
                self.include_headers)
        self._pending = {**self.offsets, **ends}
        return batch

    def _fetch(self, c: KafkaWireClient) -> list[tuple[int, tuple]] | None:
        """Every record past the committed offsets as (partition,
        record) pairs in (partition, offset) order; None as soon as
        their bytes exceed DRIVER_FETCH_BYTES (a record larger than
        one fetch window included: its fetch returns no whole
        record)."""
        out: list[tuple[int, tuple]] = []
        size = 0
        for p in _partition_ids(c, self.topic):
            off = self.offsets.get(p, 0)
            while True:
                hw, recs = c.fetch(self.topic, p, off,
                                   with_headers=self.include_headers)
                if off < hw and not recs:
                    return None
                size += sum(_RECORD_OVERHEAD + len(r[1] or b"")
                            + len(r[2] or b"") for r in recs)
                if size > DRIVER_FETCH_BYTES:
                    return None
                out += [(p, r) for r in recs]
                if not recs or recs[-1][0] + 1 >= hw:
                    break
                off = recs[-1][0] + 1
        return out

    def _poll_in_tasks(self, compact: bool):
        """(batch, end offsets, record count) of a large backlog,
        fetched by Spark tasks and checkpointed so it is fetched once."""
        from pyspark.sql import functions as F

        from materialize_spark.operators.topk import distinct_on
        batch = read_kafka_wire(
            self.spark, self.bootstrap, self.topic,
            starting_offsets=self.offsets, ssl_conf=self.ssl_conf,
            sasl=self.sasl, include_headers=self.include_headers,
        ).localCheckpoint(eager=True)
        got = (batch.groupBy("partition")
               .agg(F.max("offset").alias("mx"), F.count("*").alias("n"))
               .collect())
        if compact:
            batch = distinct_on(
                batch, ["key"],
                [F.col("partition").desc(), F.col("offset").desc()])
        return (batch, {r.partition: r.mx + 1 for r in got},
                sum(r.n for r in got))

    def commit(self) -> dict[int, int]:
        """Advance the offset frontier past the last polled batch."""
        if self._pending is not None:
            self.offsets = self._pending
            self._pending = None
        return dict(self.offsets)
