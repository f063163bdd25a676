"""WARC source — read Common-Crawl-style WARC archives into the pages
table shape (``url, warc_ts, html``).

Common Crawl ships its corpus as ~1 GB WARC files (ISO 28500), usually
with per-record gzip members concatenated. The standard Spark pattern
(see the public ``commoncrawl/cc-pyspark`` examples) is FILE-level
parallelism: one task per WARC file, STREAMING records off disk. This
source reads only the file *paths* through Spark (``binaryFile`` with
the content column pruned), opens each archive inside the task with a
buffered (multi-member-aware) gzip stream, and yields records in
bounded chunks — peak memory per task is one chunk, not three copies
of the archive.

Robustness rules (a crawl archive always contains some garbage):
* malformed records (bad dates, non-numeric Content-Length) are
  SKIPPED, never fatal — one junk record must not kill a 1 GB archive;
* a record without Content-Length forfeits payload framing; the parser
  rescans for the next ``\\r\\n\\r\\nWARC/`` boundary instead of locking
  onto a literal "WARC/" inside page text;
* WARC/1.0 and /1.1 dates parse (with or without fractional seconds)
  and are UTC-aware — ``Z`` means Zulu, not session timezone;
* ``Transfer-Encoding: chunked`` HTTP payloads are de-chunked (real
  Common Crawl segments contain them); a malformed chunk size falls
  back to the raw body rather than raising;
* ``revisit`` records (and every other non-``response`` type) are
  skipped WITHOUT losing framing — their Content-Length is honored;
* only payloads whose HTTP Content-Type matches ``content_types``
  (default ``text/html``) and whose status is 2xx are yielded —
  image/PDF/error responses are ubiquitous in real crawls and the
  downstream extractor is frozen on strict-UTF-8 HTML;
* bodies are re-encoded as clean UTF-8 (``errors="replace"``), so one
  latin-1 page cannot kill the extraction UDF; valid-UTF-8 bodies
  round-trip byte-identically.
"""

from __future__ import annotations

import datetime as dt
import gzip
import io

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..frames import local_frame

PAGES_FROM_WARC_SCHEMA = "url string, warc_ts timestamp, html binary"

_CRLF2 = b"\r\n\r\n"
_UTC = dt.timezone.utc


def write_warc(path: str, records: list[tuple[str, dt.datetime, bytes]],
               gzip_members: bool = False) -> None:
    """Write (url, ts, html_bytes) as WARC response records whose
    payloads are minimal HTTP responses. Microseconds are preserved
    (WARC/1.1 fractional dates) when present; naive datetimes are
    stamped as UTC. ``gzip_members`` mimics the Common-Crawl layout."""
    out = io.BytesIO()
    for url, ts, html in records:
        if ts.tzinfo is not None:
            ts = ts.astimezone(_UTC).replace(tzinfo=None)
        stamp = ts.strftime("%Y-%m-%dT%H:%M:%S")
        if ts.microsecond:
            stamp += f".{ts.microsecond:06d}"
        http = (
            b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
            + f"Content-Length: {len(html)}\r\n\r\n".encode()
            + html
        )
        head = (
            "WARC/1.0\r\n"
            "WARC-Type: response\r\n"
            f"WARC-Target-URI: {url}\r\n"
            f"WARC-Date: {stamp}Z\r\n"
            f"Content-Length: {len(http)}\r\n\r\n"
        ).encode()
        rec = head + http + _CRLF2
        out.write(gzip.compress(rec) if gzip_members else rec)
    with open(path, "wb") as f:
        f.write(out.getvalue())


def _parse_date(s: str) -> dt.datetime:
    s = s.strip()
    for fmt in ("%Y-%m-%dT%H:%M:%SZ", "%Y-%m-%dT%H:%M:%S.%fZ"):
        try:
            return dt.datetime.strptime(s, fmt).replace(tzinfo=_UTC)
        except ValueError:
            continue
    raise ValueError(f"unparseable WARC-Date {s!r}")


class _Pushback:
    """Tiny buffered reader with pushback over a binary stream."""

    def __init__(self, fp):
        self._fp = fp
        self._buf = b""

    def push(self, data: bytes) -> None:
        self._buf = data + self._buf

    def read(self, n: int) -> bytes:
        out = bytearray()
        while len(out) < n:
            if self._buf:
                take = self._buf[: n - len(out)]
                self._buf = self._buf[len(take):]
                out.extend(take)
                continue
            chunk = self._fp.read(n - len(out))
            if not chunk:
                break
            out.extend(chunk)
        return bytes(out)

    def readline(self) -> bytes:
        out = bytearray()
        while True:
            if self._buf:
                nl = self._buf.find(b"\n")
                if nl >= 0:
                    out.extend(self._buf[: nl + 1])
                    self._buf = self._buf[nl + 1:]
                    return bytes(out)
                out.extend(self._buf)
                self._buf = b""
            chunk = self._fp.read(65536)
            if not chunk:
                return bytes(out)
            self._buf = chunk


def _parse_http(payload: bytes):
    """Split an HTTP response payload into (status, headers, body).
    Returns (None, {}, payload) when the payload is not an HTTP
    response (e.g. a ``resource`` record's raw bytes)."""
    if not payload.startswith(b"HTTP/"):
        return None, {}, payload
    idx = payload.find(_CRLF2)
    if idx < 0:
        return None, {}, payload
    head, body = payload[:idx], payload[idx + 4:]
    lines = head.split(b"\r\n")
    try:
        status = int(lines[0].split()[1])
    except (IndexError, ValueError):
        status = None
    headers: dict[str, str] = {}
    for ln in lines[1:]:
        if b":" in ln:
            k, v = ln.split(b":", 1)
            headers[k.decode("ascii", "replace").strip().lower()] = \
                v.decode("latin-1", "replace").strip()
    return status, headers, body


def _dechunk(body: bytes) -> bytes:
    """Decode a Transfer-Encoding: chunked HTTP body. A malformed chunk
    size line falls back to the raw body (skip-grade robustness: junk
    in one record must not raise)."""
    out = bytearray()
    pos = 0
    while True:
        nl = body.find(b"\r\n", pos)
        if nl < 0:
            return bytes(body)  # truncated framing: keep raw
        token = body[pos:nl].split(b";")[0].strip()
        try:
            size = int(token, 16)
        except ValueError:
            return bytes(body)
        pos = nl + 2
        if size == 0:
            return bytes(out)
        out.extend(body[pos:pos + size])
        pos += size + 2  # chunk payload + its trailing CRLF


def iter_warc_records(raw_fp, content_types: tuple[str, ...] | None = ("text/html",),
                      sanitize_utf8: bool = True,
                      record_types: tuple[str, ...] = ("response",)):
    """Stream (url, ts_utc, html_body) response records from a WARC
    file object (plain or gzip — multi-member handled by GzipFile).
    Malformed records are skipped; framing failures rescan forward.

    ``content_types``: HTTP Content-Type prefixes to keep (the media
    type is compared with parameters stripped); ``None`` keeps
    everything. Non-2xx statuses are dropped whenever the payload has a
    parseable HTTP status line. ``revisit`` / ``request`` / metadata
    records are skipped with framing intact. ``sanitize_utf8``
    re-encodes bodies via ``decode("utf-8", "replace")`` so the frozen
    strict-UTF-8 extractor downstream can never throw; valid UTF-8 is
    byte-identical after the round trip.

    ``record_types``: WARC record types to yield. ``("response",)``
    (default) reads crawl WARCs; ``("conversion",)`` reads Common
    Crawl's WET extracted-text files, whose payloads have NO HTTP
    envelope — the WARC-level ``Content-Type`` header (text/plain for
    WET) is matched instead, and the raw payload is the body."""
    head2 = raw_fp.read(2)
    raw_fp.seek(0)
    fp = _Pushback(gzip.GzipFile(fileobj=raw_fp) if head2 == b"\x1f\x8b" else raw_fp)
    while True:
        line = fp.readline()
        if not line:
            return
        if not line.startswith(b"WARC/"):
            continue  # inter-record padding / resync leftovers
        headers: dict[str, str] = {}
        while True:
            h = fp.readline()
            if not h or h in (b"\r\n", b"\n"):
                break
            if b":" in h:
                k, v = h.split(b":", 1)
                headers[k.decode("ascii", "replace").strip().lower()] = v.decode("utf-8", "replace").strip()
        try:
            length = int(headers["content-length"])
        except (KeyError, ValueError):
            # framing lost — jump to the next explicit record boundary
            marker = _CRLF2 + b"WARC/"
            window = b""
            while True:
                chunk = fp.read(65536)
                if not chunk:
                    return
                window += chunk
                idx = window.find(marker)
                if idx >= 0:
                    fp.push(window[idx + 4:])
                    break
                window = window[-len(marker):]
            continue
        payload = fp.read(length)
        fp.read(4)  # trailing CRLFCRLF
        if headers.get("warc-type") not in record_types:
            continue
        try:
            ts = _parse_date(headers["warc-date"])
            url = headers["warc-target-uri"]
        except (KeyError, ValueError):
            continue  # malformed record: skip, don't kill the archive
        status, http_headers, body = _parse_http(payload)
        if status is not None and not (200 <= status < 300):
            continue  # error/redirect page: not crawl content
        if "chunked" in http_headers.get("transfer-encoding", "").lower():
            body = _dechunk(body)
        if content_types is not None:
            # HTTP envelope wins; envelope-less records (WET conversion)
            # are typed by the WARC-level Content-Type header
            media = (http_headers.get("content-type") or headers.get("content-type", ""))
            media = media.split(";")[0].strip().lower()
            if not any(media.startswith(ct) for ct in content_types):
                continue
        if sanitize_utf8:
            body = body.decode("utf-8", "replace").encode("utf-8")
        yield url, ts, body


def parse_warc_bytes(data: bytes, **kw) -> list[tuple[str, dt.datetime, bytes]]:
    """Convenience: parse in-memory WARC bytes (tests / small files).
    Keyword args pass through to ``iter_warc_records``."""
    return list(iter_warc_records(io.BytesIO(data), **kw))


def hadoop_glob(spark: SparkSession, pattern: str) -> list[str]:
    """Expand a path glob through the Hadoop FileSystem API on the
    driver (the same route ``plans.merge`` stats inputs through): works
    for every scheme the cluster's Hadoop conf knows — ``file:``,
    ``hdfs://``, ``s3a://`` (with the cluster's credentials/jars) —
    returning fully-qualified file URIs in sorted order. A scheme the
    JVM cannot resolve fails HERE with the Hadoop error, not inside a
    task mid-job."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    jpath = jvm.org.apache.hadoop.fs.Path(pattern)
    fs = jpath.getFileSystem(conf)
    statuses = fs.globStatus(jpath)
    if statuses is None:
        return []
    return sorted(str(s.getPath().toUri().toString())
                  for s in statuses if s.isFile())


class _HttpStream:
    """Pure-stdlib streaming reader over HTTP(S) with Range-based
    resume: on a dropped connection mid-archive (routine when pulling
    1 GB WARCs from object storage) it re-opens the URL with
    ``Range: bytes=<consumed>-`` and continues, retrying with backoff.
    A server that ignores Range (200 instead of 206) is handled by
    reading and discarding the already-consumed prefix. Forward-only;
    wrap in ``_SniffWrapper`` for the gzip sniff's ``seek(0)``."""

    def __init__(self, url: str, max_retries: int = 5, timeout: float = 60.0,
                 start: int = 0, end: int | None = None):
        self._url = url
        self._retries = max_retries
        self._timeout = timeout
        self._pos = 0  # bytes handed to the caller
        self._start = start  # absolute archive offset of byte 0 (record fetch)
        self._end = end  # inclusive absolute end for a bounded Range
        self._resp = None
        self._open_at(start)

    def _open_at(self, offset: int) -> None:
        import time
        import urllib.error
        import urllib.request

        if self._resp is not None:
            try:
                self._resp.close()
            except OSError:
                pass
        last = None
        for attempt in range(self._retries):
            try:
                req = urllib.request.Request(self._url)
                if self._end is not None:
                    req.add_header("Range", f"bytes={offset}-{self._end}")
                elif offset:
                    req.add_header("Range", f"bytes={offset}-")
                resp = urllib.request.urlopen(req, timeout=self._timeout)
                skipped = 0
                if offset and resp.status == 200:
                    # Range unsupported: discard the consumed prefix
                    remaining = offset
                    while remaining > 0:
                        chunk = resp.read(min(1 << 20, remaining))
                        if not chunk:
                            raise IOError("short body while skipping prefix")
                        remaining -= len(chunk)
                    skipped = offset
                self._resp = resp
                try:
                    self._resp_expected = int(resp.headers.get("Content-Length"))
                except (TypeError, ValueError):
                    self._resp_expected = None
                self._resp_got = skipped
                return
            except (urllib.error.URLError, OSError) as exc:  # incl. timeout
                last = exc
                time.sleep(min(2.0 ** attempt, 30.0) * 0.1)
        raise IOError(f"failed to open {self._url} at offset {offset}: {last}")

    def read(self, n: int = -1) -> bytes:
        import http.client

        out = bytearray()
        want = None if n is None or n < 0 else n
        stalls = 0
        while want is None or len(out) < want:
            dropped = False
            try:
                chunk = self._resp.read(1 << 16 if want is None
                                        else want - len(out))
            except (OSError, ValueError, http.client.HTTPException):
                dropped = True
                chunk = b""
            if not dropped and not chunk:
                # http.client reports a mid-body connection drop as a
                # SHORT read, not an exception — compare against the
                # response's declared Content-Length to tell a real EOF
                # from a drop that needs a Range resume
                if (self._resp_expected is not None
                        and self._resp_got < self._resp_expected):
                    dropped = True
                else:
                    break
            if dropped:
                stalls += 1
                if stalls > self._retries:
                    raise IOError(
                        f"no progress resuming {self._url} at "
                        f"{self._pos + len(out)} after {stalls} attempts")
                self._open_at(self._start + self._pos + len(out))
                continue
            stalls = 0
            out.extend(chunk)
            self._resp_got += len(chunk)
        self._pos += len(out)
        return bytes(out)

    def close(self) -> None:
        if self._resp is not None:
            self._resp.close()


class _SniffWrapper:
    """Make a forward-only stream satisfy ``read(2); seek(0)`` (the
    gzip sniff at the top of ``iter_warc_records``): reads are buffered
    until the first ``seek(0)``, which replays them; buffering then
    stops, so steady-state memory is zero. The buffer is capped — this
    exists for a 2-byte sniff, not general rewinding."""

    _CAP = 1 << 16

    def __init__(self, fp):
        self._fp = fp
        self._start_buf = bytearray()
        self._replay = b""
        self._buffering = True

    def read(self, n: int = -1):
        out = bytearray()
        if self._replay:
            take = self._replay if n < 0 else self._replay[:n]
            self._replay = self._replay[len(take):]
            out += take
            if n >= 0 and len(out) == n:
                return bytes(out)
        need = -1 if n < 0 else n - len(out)
        data = self._fp.read(need)
        out += data
        if self._buffering:
            self._start_buf += data
            if len(self._start_buf) > self._CAP:
                self._buffering = False
                self._start_buf = bytearray()
        return bytes(out)

    def seek(self, pos: int):
        if pos != 0:
            raise io.UnsupportedOperation("forward-only stream seeks to 0 only")
        if not self._buffering:
            raise io.UnsupportedOperation(
                "seek(0) after the sniff window on a forward-only stream")
        self._replay = bytes(self._start_buf) + self._replay
        self._start_buf = bytearray()
        self._buffering = False

    def close(self):
        self._fp.close()

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self.close()
        return False


def _s3_https_url(path: str) -> str:
    """Map ``s3://bucket/key`` (and the Hadoop ``s3a://``/``s3n://``
    spellings) to the bucket's virtual-hosted HTTPS endpoint — the
    anonymous-read route public corpora like Common Crawl expose.
    Credentialed buckets need ``read_warc_pages_jvm_bytes`` (the
    cluster's Hadoop S3 client) instead."""
    from urllib.parse import urlparse

    u = urlparse(path)
    return f"https://{u.netloc}.s3.amazonaws.com{u.path}"


def open_archive_stream(path: str):
    """Executor-side opener: a streaming binary file object for one
    archive URI. ``file:``/bare paths use local ``open`` (POSIX mounts
    included); ``http(s)://`` streams with Range-resume; ``s3://`` /
    ``s3a://`` / ``s3n://`` stream the public virtual-hosted HTTPS
    endpoint. Anything else (e.g. ``hdfs://``, credentialed buckets)
    raises with a pointer to the JVM-bytes route."""
    from urllib.parse import unquote, urlparse

    u = urlparse(path)
    if u.scheme in ("", "file"):
        local = unquote(u.path) if u.scheme == "file" else path
        return open(local, "rb")
    if u.scheme in ("http", "https"):
        return _SniffWrapper(_HttpStream(path))
    if u.scheme in ("s3", "s3a", "s3n"):
        return _SniffWrapper(_HttpStream(_s3_https_url(path)))
    raise ValueError(
        f"no streaming opener for scheme {u.scheme!r} ({path!r}) — use "
        f"read_warc_pages_jvm_bytes for schemes only the JVM's Hadoop "
        f"client can reach")


def _list_archives(spark: SparkSession, path_glob: str) -> list[str]:
    from urllib.parse import urlparse

    scheme = urlparse(path_glob).scheme
    if scheme in ("http", "https"):
        # no listing service over plain HTTP: explicit comma-separated URLs
        return [p.strip() for p in path_glob.split(",") if p.strip()]
    if scheme in ("s3", "s3a", "s3n"):
        # streaming tasks fetch S3 over ANONYMOUS virtual-hosted HTTPS
        # (open_archive_stream) for every s3* spelling, so listing via
        # the credentialed Hadoop client would let a private-but-
        # configured s3a bucket list fine and then 403 inside tasks
        # mid-job — the opposite of fail-fast. All s3* schemes take
        # explicit public keys here; credentialed buckets go through
        # read_warc_pages_jvm_bytes (JVM client end to end).
        if any(ch in path_glob for ch in "*?[]"):
            raise ValueError(
                f"cannot glob {path_glob!r} over anonymous HTTPS — pass "
                f"explicit comma-separated PUBLIC object URLs, or use "
                f"read_warc_pages_jvm_bytes for credentialed buckets "
                f"(the cluster's Hadoop S3 client end to end)")
        return [p.strip() for p in path_glob.split(",") if p.strip()]
    paths = hadoop_glob(spark, path_glob)
    if not paths:
        raise FileNotFoundError(f"no archives match {path_glob!r}")
    return paths


def read_wet_pages(spark: SparkSession, path_glob: str,
                   chunk_rows: int = 2000) -> DataFrame:
    """Common Crawl WET archives (pre-extracted plain text) ->
    (url, warc_ts, html) DataFrame — ``html`` holds the UTF-8 text
    bytes. WET is the input most text-pipeline users actually consume;
    it is the same container with ``conversion`` records and
    ``Content-Type: text/plain`` at the WARC header level."""
    return read_warc_pages(spark, path_glob, chunk_rows,
                           content_types=("text/plain",),
                           record_types=("conversion",))


def read_warc_pages(spark: SparkSession, path_glob: str,
                    chunk_rows: int = 2000,
                    content_types: tuple[str, ...] | None = ("text/html",),
                    sanitize_utf8: bool = True,
                    record_types: tuple[str, ...] = ("response",)) -> DataFrame:
    """WARC archives -> (url, warc_ts, html) DataFrame with file-level
    parallelism: the driver expands the glob through the Hadoop
    FileSystem API (``hadoop_glob`` — any scheme the cluster conf
    resolves), then one task per archive opens a STREAMING reader
    (``open_archive_stream``) and yields records in ``chunk_rows``
    batches — peak memory per task is one chunk, never the archive.

    Remote inputs: ``http(s)://`` and public ``s3://``/``s3a://``
    buckets (Common Crawl's layout) stream over stdlib HTTPS with
    Range-based resume on dropped connections; local/POSIX paths use
    plain ``open``. Schemes needing the JVM's Hadoop client end-to-end
    (``hdfs://``, credentialed S3) go through
    ``read_warc_pages_jvm_bytes`` — Python workers have no py4j
    gateway, so per-task Hadoop streams are not reachable from Python;
    whole-file JVM reads are the honest fallback there.

    Feed into ``plans.pipeline.build_pois(lang=None)`` — and repartition
    first (as ``app.read_pages`` does) so the parse stage and the
    extraction UDF aren't a chained narrow Python pipeline.
    ``content_types`` / ``sanitize_utf8`` as in ``iter_warc_records``."""
    paths = _list_archives(spark, path_glob)
    files = local_frame(spark, [(p,) for p in paths], "path string") \
        .repartition(len(paths))

    def batches(it):
        for pdf in it:
            for path in pdf["path"]:
                with open_archive_stream(path) as f:
                    urls, tss, htmls = [], [], []
                    for url, ts, body in iter_warc_records(
                            f, content_types=content_types,
                            sanitize_utf8=sanitize_utf8, record_types=record_types):
                        urls.append(url)
                        tss.append(ts)
                        htmls.append(body)
                        if len(urls) >= chunk_rows:
                            yield pd.DataFrame({"url": urls, "warc_ts": tss, "html": htmls})
                            urls, tss, htmls = [], [], []
                    if urls:
                        yield pd.DataFrame({"url": urls, "warc_ts": tss, "html": htmls})

    return files.mapInPandas(batches, schema=PAGES_FROM_WARC_SCHEMA)


# ---------------------------------------------------------------------------
# CC-index selective fetch: read ONLY the records an index selects
# ---------------------------------------------------------------------------
#
# Real pipelines never scan whole crawls for a narrow selection: Common
# Crawl publishes a columnar index (the cc-index table) whose rows carry
# (url, warc_filename, warc_record_offset, warc_record_length) — and
# because each WARC record is its OWN gzip member, a record is
# retrievable with one bounded Range read + gunzip. Filter the index
# natively (predicate pushdown on the parquet scan), then fetch only
# the selected records.

#: the cc-index-table column subset this reader consumes (its public
#: schema names: url, warc_filename, warc_record_offset/_length)
CC_INDEX_SCHEMA = ("url string, warc_filename string, "
                   "warc_record_offset long, warc_record_length long")


def index_warc_members(path: str, record_types: tuple[str, ...] = ("response",),
                       ) -> list[tuple[str, str, int, int]]:
    """Scan ONE per-record-gzip WARC archive and emit cc-index-style
    rows (url, warc_filename, warc_record_offset, warc_record_length) —
    one per member whose record matches ``record_types`` (responses,
    like the real cc-index). Member boundaries come from streaming
    ``zlib.decompressobj`` walks (``unused_data`` marks each member's
    end), so offsets are exact archive byte positions. Plain
    (non-member-gzip) archives are rejected: the offset/length fetch
    contract is the Common-Crawl layout's."""
    import zlib

    rows: list[tuple[str, str, int, int]] = []
    with open_archive_stream(path) as f:
        buf = f.read(2)
        if buf != b"\x1f\x8b":
            raise ValueError(
                f"{path!r} is not a per-record-gzip WARC (Common Crawl "
                f"layout) — offset-indexed fetch needs one gzip member "
                f"per record")
        offset = 0
        while True:
            d = zlib.decompressobj(wbits=31)
            member = bytearray()
            consumed = 0
            while not d.eof:
                if not buf:
                    buf = f.read(1 << 16)
                    if not buf:
                        break
                member.extend(d.decompress(buf))
                consumed += len(buf) - len(d.unused_data)
                buf = d.unused_data
            if not member:
                break
            for url, _ts, _body in parse_warc_bytes(
                    bytes(member), content_types=None,
                    sanitize_utf8=False, record_types=record_types):
                rows.append((url, path, offset, consumed))
            offset += consumed
    return rows


def build_warc_index(spark: SparkSession, path_glob: str,
                     record_types: tuple[str, ...] = ("response",)) -> DataFrame:
    """Distributed index build over archives matching ``path_glob``
    (``hadoop_glob`` semantics as in ``read_warc_pages``): one task per
    archive runs ``index_warc_members``. Output has ``CC_INDEX_SCHEMA``
    — the same column names the public cc-index table uses, so a query
    written against this index runs unchanged against the real one."""
    paths = _list_archives(spark, path_glob)
    files = local_frame(spark, [(p,) for p in paths], "path string") \
        .repartition(len(paths))

    def batches(it):
        for pdf in it:
            for path in pdf["path"]:
                rows = index_warc_members(path, record_types=record_types)
                if rows:
                    yield pd.DataFrame(
                        {"url": [r[0] for r in rows],
                         "warc_filename": [r[1] for r in rows],
                         "warc_record_offset": [r[2] for r in rows],
                         "warc_record_length": [r[3] for r in rows]})

    return files.mapInPandas(batches, schema=CC_INDEX_SCHEMA)


def fetch_archive_range(path: str, offset: int, length: int,
                        fp_cache: dict | None = None) -> bytes:
    """Read exactly ``[offset, offset+length)`` from one archive.
    Local/``file:`` paths seek a (cached, reusable) file handle;
    ``http(s)://`` and public ``s3://`` issue a BOUNDED Range request
    (``bytes=offset-(offset+length-1)``) with the same resume/backoff
    machinery as full-archive streaming. Schemes only the JVM client
    can reach raise, pointing at ``read_warc_pages_jvm_bytes``."""
    from urllib.parse import unquote, urlparse

    u = urlparse(path)
    if u.scheme in ("", "file"):
        local = unquote(u.path) if u.scheme == "file" else path
        fp = None if fp_cache is None else fp_cache.get(local)
        if fp is None:
            fp = open(local, "rb")
            if fp_cache is not None:
                fp_cache[local] = fp
        try:
            fp.seek(offset)
            return fp.read(length)
        finally:
            if fp_cache is None:
                fp.close()
    elif u.scheme in ("http", "https", "s3", "s3a", "s3n"):
        url = path if u.scheme in ("http", "https") else _s3_https_url(path)
        s = _HttpStream(url, start=offset, end=offset + length - 1)
        try:
            return s.read(length)
        finally:
            s.close()
    raise ValueError(
        f"no range fetcher for scheme {u.scheme!r} ({path!r}) — use "
        f"read_warc_pages_jvm_bytes for JVM-only schemes")


def read_warc_records_by_index(spark: SparkSession, index: DataFrame,
                               base_uri: str | None = None,
                               file_col: str = "warc_filename",
                               offset_col: str = "warc_record_offset",
                               length_col: str = "warc_record_length",
                               content_types: tuple[str, ...] | None = ("text/html",),
                               sanitize_utf8: bool = True,
                               record_types: tuple[str, ...] = ("response",),
                               chunk_rows: int = 2000) -> DataFrame:
    """Fetch ONLY the WARC records an index selects -> (url, warc_ts,
    html), same schema/semantics as ``read_warc_pages`` (shared
    ``iter_warc_records`` parse, so byte parity with a full scan of the
    same selection holds by construction).

    ``index`` is any DataFrame carrying (warc_filename,
    warc_record_offset, warc_record_length) — the filtered cc-index
    parquet in production (filter it BEFORE calling: predicates prune
    at the parquet scan), or ``build_warc_index`` output in tests.
    ``base_uri`` prefixes relative filenames (Common Crawl's index
    stores paths relative to ``https://data.commoncrawl.org/``).

    Scale shape: the selection is repartitioned BY ARCHIVE FILE and
    sorted by offset within each partition — local fetches reuse one
    seeking handle per file in ascending-offset (sequential) order,
    remote fetches issue one bounded Range request per record (the
    standard CDX-fetch pattern; each request is independent, so
    executor count scales fetch throughput). Per-task memory is one
    record + one output chunk."""
    base = base_uri.rstrip("/") + "/" if base_uri else ""
    sel = (
        index.select(
            F.concat(F.lit(base), F.col(file_col)).alias("f"),
            F.col(offset_col).cast("long").alias("o"),
            F.col(length_col).cast("long").alias("l"))
        .repartition(F.col("f"))
        .sortWithinPartitions("f", "o")
    )

    def batches(it):
        fp_cache: dict = {}
        try:
            for pdf in it:
                urls, tss, htmls = [], [], []
                for f_, o, ln in zip(pdf["f"], pdf["o"], pdf["l"]):
                    data = fetch_archive_range(f_, int(o), int(ln), fp_cache)
                    for url, ts, body in parse_warc_bytes(
                            data, content_types=content_types,
                            sanitize_utf8=sanitize_utf8,
                            record_types=record_types):
                        urls.append(url)
                        tss.append(ts)
                        htmls.append(body)
                    if len(urls) >= chunk_rows:
                        yield pd.DataFrame(
                            {"url": urls, "warc_ts": tss, "html": htmls})
                        urls, tss, htmls = [], [], []
                if urls:
                    yield pd.DataFrame({"url": urls, "warc_ts": tss, "html": htmls})
        finally:
            for fp in fp_cache.values():
                fp.close()

    return sel.mapInPandas(batches, schema=PAGES_FROM_WARC_SCHEMA)


def read_warc_pages_jvm_bytes(spark: SparkSession, path_glob: str,
                              content_types: tuple[str, ...] | None = ("text/html",),
                              sanitize_utf8: bool = True,
                              record_types: tuple[str, ...] = ("response",)) -> DataFrame:
    """WARC archives via Spark's ``binaryFile`` datasource: the JVM's
    Hadoop client reads each WHOLE archive (so every scheme/credential
    the cluster supports works — ``hdfs://``, ``s3a://`` with keys),
    and the bytes are parsed in-memory per task. Memory per task is
    bounded by the archive size (~1 GB for Common Crawl; binaryFile
    caps at 2 GB) — prefer ``read_warc_pages`` streaming wherever a
    streaming opener exists. Record semantics and byte parity are
    identical: both routes share ``iter_warc_records``."""
    files = spark.read.format("binaryFile").load(path_glob) \
        .select("path", "content")

    def batches(it):
        for pdf in it:
            for content in pdf["content"]:
                rows = parse_warc_bytes(
                    bytes(content), content_types=content_types,
                    sanitize_utf8=sanitize_utf8, record_types=record_types)
                if rows:
                    yield pd.DataFrame(
                        {"url": [r[0] for r in rows],
                         "warc_ts": [r[1] for r in rows],
                         "html": [r[2] for r in rows]})

    return files.mapInPandas(batches, schema=PAGES_FROM_WARC_SCHEMA)
