"""A minimal in-process S3-compatible HTTP server (stdlib only) for
end-to-end tests of the ``s3://`` storage path.

This container has no moto/MinIO/boto3 (and no way to install them), but
pyarrow ships the real AWS C++ SDK S3 client — so the honest way to test
the S3 deployment path here is to speak genuine S3 REST to that client:
SigV4-signed requests arrive over HTTP and this server implements the
object-CRUD subset the engine exercises:

* PUT bucket / PUT object (``Expect: 100-continue`` handled by
  http.server), DELETE object, HEAD bucket/object
* GET object incl. ``Range: bytes=a-b`` (pyarrow parquet reads are
  ranged)
* GET ``?list-type=2`` ListObjectsV2 with prefix + optional delimiter
  (CommonPrefixes grouping)
* multipart upload: POST ``?uploads`` (initiate), PUT
  ``?partNumber&uploadId``, POST ``?uploadId`` (complete), DELETE
  ``?uploadId`` (abort) — pyarrow's output streams always write
  multipart
* conditional writes (public S3 API since 2024): PUT with
  ``If-None-Match: *`` fails 412 when the key exists; PUT with
  ``If-Match: <etag>`` fails 412 on etag mismatch and 404 when the
  key is absent — the CAS primitives ``s3_lock_provider`` leases on.
  Simple PUTs get real md5 etags (multipart keeps the "0" stub, like
  S3's multipart etags aren't plain md5 either)

Signatures are accepted without verification (the point is the wire
protocol and object semantics, not IAM). Storage is an in-memory dict;
``LastModified`` has real second resolution like S3's.

Fault injection: ``fail_next(method, n)`` answers the next ``n`` requests
of one kind (``GET``, ``LIST``, ``HEAD``, ``PUT``, ``POST``, ``DELETE``)
with an S3 error reply instead of serving them, so tests can watch the
client's own retry absorb or surface a throttling/5xx blip.
``requests`` counts every request by kind and ``faults_served`` the
injected replies.
"""

from __future__ import annotations

import hashlib
import http.server
import threading
import time
import uuid
from collections import Counter
from datetime import datetime, timezone
from urllib.parse import parse_qs, unquote, urlsplit


class _Obj:
    __slots__ = ("data", "mtime", "etag")

    def __init__(self, data: bytes, etag: str = "0"):
        self.data = data
        self.mtime = time.time()
        self.etag = etag


class MiniS3Server:
    """``with MiniS3Server() as s3: ... s3.endpoint ...``"""

    def __init__(self, port: int = 0):
        self.buckets: dict[str, dict[str, _Obj]] = {}
        self.uploads: dict[str, dict[int, bytes]] = {}
        # payload bytes served per key across all GETs (ranged or whole)
        # — lets tests assert that column projection actually shrinks
        # the byte ranges a scan fetches
        self.bytes_served: dict[str, int] = {}
        self.requests: Counter = Counter()
        self.faults_served = 0
        self._faults: dict[str, list] = {}  # kind -> [left, status, code]
        self._lock = threading.Lock()
        outer = self

        class Handler(http.server.BaseHTTPRequestHandler):
            protocol_version = "HTTP/1.1"

            def log_message(self, fmt, *args):  # quiet
                pass

            def _split(self):
                u = urlsplit(self.path)
                parts = unquote(u.path).lstrip("/").split("/", 1)
                bucket = parts[0]
                key = parts[1] if len(parts) > 1 else ""
                return bucket, key, parse_qs(u.query, keep_blank_values=True)

            def _body(self) -> bytes:
                if self.headers.get("Transfer-Encoding", "").lower() == "chunked":
                    chunks = []
                    while True:
                        size = int(self.rfile.readline().strip().split(b";")[0], 16)
                        if size == 0:
                            self.rfile.readline()
                            break
                        chunks.append(self.rfile.read(size))
                        self.rfile.readline()
                    return b"".join(chunks)
                n = int(self.headers.get("Content-Length") or 0)
                return self.rfile.read(n) if n else b""

            def _send(self, code: int, body: bytes = b"", headers=()):
                self.send_response(code)
                for k, v in headers:
                    self.send_header(k, v)
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                if body and self.command != "HEAD":
                    self.wfile.write(body)

            def _xml_error(self, code: int, s3code: str):
                body = (
                    f'<?xml version="1.0" encoding="UTF-8"?>'
                    f"<Error><Code>{s3code}</Code></Error>"
                ).encode()
                self._send(code, body, [("Content-Type", "application/xml")])

            def _faulted(self, kind: str) -> bool:
                """Count the request; answer it with an armed fault
                instead of serving it. Callers read any request body
                first, so the kept-alive connection stays in sync."""
                with outer._lock:
                    outer.requests[kind] += 1
                    f = outer._faults.get(kind)
                    if f is None:
                        return False
                    f[0] -= 1
                    if f[0] == 0:
                        del outer._faults[kind]
                    outer.faults_served += 1
                self._xml_error(f[1], f[2])
                return True

            # ---- PUT: bucket create / object / part
            def do_PUT(self):
                bucket, key, q = self._split()
                data = self._body()
                if self._faulted("PUT"):
                    return
                with outer._lock:
                    if not key:
                        outer.buckets.setdefault(bucket, {})
                        self._send(200)
                        return
                    if bucket not in outer.buckets:
                        self._xml_error(404, "NoSuchBucket")
                        return
                    if "partNumber" in q and "uploadId" in q:
                        up = outer.uploads.get(q["uploadId"][0])
                        if up is None:
                            self._xml_error(404, "NoSuchUpload")
                            return
                        up[int(q["partNumber"][0])] = data
                        etag = hashlib.md5(data).hexdigest()
                        self._send(200, headers=[("ETag", f'"{etag}"')])
                        return
                    existing = outer.buckets[bucket].get(key)
                    if self.headers.get("If-None-Match") == "*":
                        if existing is not None:
                            self._xml_error(412, "PreconditionFailed")
                            return
                    want = self.headers.get("If-Match")
                    if want is not None:
                        if existing is None:
                            self._xml_error(404, "NoSuchKey")
                            return
                        if want.strip('"') != existing.etag:
                            self._xml_error(412, "PreconditionFailed")
                            return
                    etag = hashlib.md5(data).hexdigest()
                    outer.buckets[bucket][key] = _Obj(data, etag)
                    self._send(200, headers=[("ETag", f'"{etag}"')])

            # ---- POST: multipart initiate / complete
            def do_POST(self):
                bucket, key, q = self._split()
                self._body()
                if self._faulted("POST"):
                    return
                with outer._lock:
                    if "uploads" in q:
                        uid = uuid.uuid4().hex
                        outer.uploads[uid] = {}
                        xml = (
                            '<?xml version="1.0" encoding="UTF-8"?>'
                            "<InitiateMultipartUploadResult>"
                            f"<Bucket>{bucket}</Bucket><Key>{key}</Key>"
                            f"<UploadId>{uid}</UploadId>"
                            "</InitiateMultipartUploadResult>"
                        ).encode()
                        self._send(200, xml, [("Content-Type", "application/xml")])
                        return
                    if "uploadId" in q:
                        up = outer.uploads.pop(q["uploadId"][0], None)
                        if up is None or bucket not in outer.buckets:
                            self._xml_error(404, "NoSuchUpload")
                            return
                        data = b"".join(up[n] for n in sorted(up))
                        outer.buckets[bucket][key] = _Obj(data)
                        xml = (
                            '<?xml version="1.0" encoding="UTF-8"?>'
                            "<CompleteMultipartUploadResult>"
                            f"<Bucket>{bucket}</Bucket><Key>{key}</Key>"
                            '<ETag>"0"</ETag>'
                            "</CompleteMultipartUploadResult>"
                        ).encode()
                        self._send(200, xml, [("Content-Type", "application/xml")])
                        return
                self._xml_error(400, "InvalidRequest")

            # ---- GET: object (ranged) / ListObjectsV2
            def do_GET(self):
                bucket, key, q = self._split()
                if self._faulted("GET" if key else "LIST"):
                    return
                with outer._lock:
                    objs = outer.buckets.get(bucket)
                    if objs is None:
                        self._xml_error(404, "NoSuchBucket")
                        return
                    if not key:
                        self._list(bucket, objs, q)
                        return
                    o = objs.get(key)
                    if o is None:
                        self._xml_error(404, "NoSuchKey")
                        return
                    data, rng = o.data, self.headers.get("Range")
                    headers = [
                        ("Content-Type", "application/octet-stream"),
                        ("Last-Modified", _http_date(o.mtime)),
                        ("ETag", f'"{o.etag}"'),
                        ("Accept-Ranges", "bytes"),
                    ]
                    if rng and rng.startswith("bytes="):
                        lo_s, _, hi_s = rng[6:].partition("-")
                        lo = int(lo_s) if lo_s else 0
                        hi = min(int(hi_s), len(data) - 1) if hi_s else len(data) - 1
                        part = data[lo : hi + 1]
                        outer.bytes_served[key] = (
                            outer.bytes_served.get(key, 0) + len(part)
                        )
                        headers.append(
                            ("Content-Range", f"bytes {lo}-{hi}/{len(data)}")
                        )
                        self._send(206, part, headers)
                        return
                    outer.bytes_served[key] = (
                        outer.bytes_served.get(key, 0) + len(data)
                    )
                    self._send(200, data, headers)

            def _list(self, bucket, objs, q):
                prefix = q.get("prefix", [""])[0]
                delim = q.get("delimiter", [""])[0]
                max_keys = int(q.get("max-keys", ["1000"])[0])
                # ListObjectsV2 pagination: the token is the last emitted
                # entry (keys sort lexicographically, so "> token" resumes
                # exactly where the previous page stopped)
                token = (q.get("continuation-token", [""])[0]
                         or q.get("start-after", [""])[0])
                contents, prefixes = [], []
                truncated, last = False, ""
                for k in sorted(objs):
                    if not k.startswith(prefix):
                        continue
                    entry = k
                    if delim:
                        rest = k[len(prefix):]
                        if delim in rest:
                            entry = prefix + rest.split(delim, 1)[0] + delim
                            if entry in prefixes:
                                continue
                    if token and entry <= token:
                        continue
                    if len(contents) + len(prefixes) >= max_keys:
                        truncated = True
                        break
                    last = entry
                    if entry is k:
                        contents.append(k)
                    else:
                        prefixes.append(entry)
                items = "".join(
                    "<Contents>"
                    f"<Key>{_xesc(k)}</Key>"
                    f"<Size>{len(objs[k].data)}</Size>"
                    f"<LastModified>{_iso(objs[k].mtime)}</LastModified>"
                    '<ETag>"0"</ETag><StorageClass>STANDARD</StorageClass>'
                    "</Contents>"
                    for k in contents
                ) + "".join(
                    f"<CommonPrefixes><Prefix>{_xesc(p)}</Prefix></CommonPrefixes>"
                    for p in prefixes
                )
                more = (
                    f"<NextContinuationToken>{_xesc(last)}"
                    "</NextContinuationToken>" if truncated else ""
                )
                xml = (
                    '<?xml version="1.0" encoding="UTF-8"?>'
                    "<ListBucketResult>"
                    f"<Name>{bucket}</Name><Prefix>{_xesc(prefix)}</Prefix>"
                    f"<KeyCount>{len(contents) + len(prefixes)}</KeyCount>"
                    f"<MaxKeys>{max_keys}</MaxKeys>"
                    f"<IsTruncated>{'true' if truncated else 'false'}"
                    f"</IsTruncated>{more}"
                    f"{items}</ListBucketResult>"
                ).encode()
                self._send(200, xml, [("Content-Type", "application/xml")])

            def do_DELETE(self):
                bucket, key, q = self._split()
                if self._faulted("DELETE"):
                    return
                with outer._lock:
                    if "uploadId" in q:
                        outer.uploads.pop(q["uploadId"][0], None)
                        self._send(204)
                        return
                    objs = outer.buckets.get(bucket)
                    if objs is not None:
                        objs.pop(key, None)
                    self._send(204)

        # HEAD sends the OBJECT's Content-Length with an empty body (the
        # generic _send would advertise 0 and break pyarrow's size probe)
        class HeadFixHandler(Handler):
            def do_HEAD(self):
                bucket, key, q = self._split()
                if self._faulted("HEAD"):
                    return
                with outer._lock:
                    objs = outer.buckets.get(bucket)
                    o = objs.get(key) if (objs is not None and key) else None
                    if objs is None or (key and o is None):
                        self.send_response(404)
                        self.send_header("Content-Length", "0")
                        self.end_headers()
                        return
                    self.send_response(200)
                    if o is not None:
                        self.send_header("Content-Length", str(len(o.data)))
                        self.send_header("Last-Modified", _http_date(o.mtime))
                        self.send_header(
                            "Content-Type", "application/octet-stream"
                        )
                        self.send_header("ETag", f'"{o.etag}"')
                    else:
                        self.send_header("Content-Length", "0")
                    self.end_headers()

        self._server = http.server.ThreadingHTTPServer(
            ("127.0.0.1", port), HeadFixHandler
        )
        self.port = self._server.server_address[1]
        self.endpoint = f"http://127.0.0.1:{self.port}"
        self._thread = threading.Thread(
            target=self._server.serve_forever, daemon=True
        )

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._server.shutdown()
        self._server.server_close()
        return False

    # test conveniences
    def fail_next(
        self, method: str, n: int = 1, status: int = 503,
        code: str = "SlowDown",
    ) -> None:
        """Answer the next ``n`` requests of kind ``method`` (``GET``,
        ``LIST``, ``HEAD``, ``PUT``, ``POST`` or ``DELETE``) with an
        S3 error reply of ``status``/``code``."""
        with self._lock:
            self._faults[method] = [n, status, code]

    def keys(self, bucket: str) -> list[str]:
        with self._lock:
            return sorted(self.buckets.get(bucket, {}))


def _iso(t: float) -> str:
    return datetime.fromtimestamp(t, tz=timezone.utc).strftime(
        "%Y-%m-%dT%H:%M:%S.000Z"
    )


def _http_date(t: float) -> str:
    return datetime.fromtimestamp(t, tz=timezone.utc).strftime(
        "%a, %d %b %Y %H:%M:%S GMT"
    )


def _xesc(s: str) -> str:
    return (
        s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    )
