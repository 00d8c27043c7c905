"""Storage locations and adapters for Zarr stores — local paths,
``http(s)://``, ``s3://``, ``gs://`` and ``az://``.

Mirrors the reference's ``StorageLocation`` (``src/reader/storage.rs:63-131``):
URL parsing into (scheme, bucket, prefix), remote detection
(``storage.rs:191-193``), and one store-opening factory,
:func:`store_fs`.  The reference builds one ``object_store`` client per
URL (S3 ``storage.rs:134-151``, GCS with an anonymous-then-credentials
fallback ``storage.rs:155-188``); :class:`ObjectStoreFS` is that client
for all three clouds here, over stdlib urllib: SigV4-signed or
anonymous S3, anonymous-then-OAuth2 GCS, and anonymous or SAS Azure.
Each executor looks up its own adapter from the store URL, so a
1000-task scan fans out across the object store with no driver
bottleneck.  This module is the package's only HTTP client; every
backend is proven by socket-crossing tests in
``tests/test_zarr_source.py``.
"""

from __future__ import annotations

import threading
import time
from dataclasses import dataclass


def _probe_404(open_fn, url: str, method: str = "GET") -> bool:
    """Existence probe with a strict absence contract: ``True`` when the
    URL serves, ``False`` ONLY on a definitive HTTP 404 (the object-store
    "no such key" answer).  Every other failure — timeout, connection
    error, 5xx, 403 throttling/auth — RE-RAISES.

    Why strict: the Zarr chunk contract maps "chunk absent" to the
    array's fill value (``chunkio.read_chunk``), so an existence probe
    that swallowed a transient network error as ``False`` would silently
    substitute fill values for a chunk that exists — wrong query results
    with no error (ADVICE r7).  At fan-out scale object-store throttling
    (503/SlowDown) is routine; a scan must fail loudly and retry at the
    task level, never degrade to fabricated data.
    """
    import urllib.error

    try:
        with open_fn(url, method=method):
            return True
    except urllib.error.HTTPError as e:
        if e.code == 404:
            return False
        raise


def _head_last_modified(open_fn, url: str) -> float | None:
    """Epoch seconds from one HEAD's ``Last-Modified`` header, or
    ``None`` when the object is definitively absent (404) or the
    server sends no stamp.  The age probe behind ``gc_repo``'s grace
    window — real object stores (S3/GCS/Azure) always stamp objects;
    ``None`` therefore means "age unknown" and the caller decides
    (gc treats it as old, documented there)."""
    import urllib.error
    from email.utils import parsedate_to_datetime

    try:
        with open_fn(url, method="HEAD") as resp:
            stamp = resp.headers.get("Last-Modified")
    except urllib.error.HTTPError as e:
        if e.code == 404:
            return None
        raise
    if not stamp:
        return None
    try:
        return parsedate_to_datetime(stamp).timestamp()
    except (TypeError, ValueError):
        return None


def tmp_name(path: str) -> str:
    """Private tmp filename for an atomic write targeting ``path``.

    The pid component keeps cross-PROCESS writers apart; the per-call
    uuid keeps two THREADS of one process apart (ADVICE r12: pid-only
    names let racing threads link torn/foreign bytes).  The ``.tmp``
    substring is a CONTRACT: debris recovery, ``prune_stale_siblings``,
    and the chunk walks all filter on it — one helper so the next
    change to tmp-name semantics happens in exactly one place
    (r13 review: the pattern had been copy-pasted four times)."""
    import os
    import uuid

    return f"{path}.tmp{os.getpid()}-{uuid.uuid4().hex[:8]}"


@dataclass(frozen=True)
class StorageLocation:
    """Parsed store location (reference ``StorageLocation::parse``,
    ``storage.rs:63-89``)."""

    scheme: str  # 'file' | 's3' | 'gs' | 'az' | 'http' | 'https'
    bucket: str  # empty for local; host[:port] for http(s)
    path: str  # local path, or key prefix within the bucket/host

    @property
    def is_remote(self) -> bool:
        """``storage.rs:191-193``."""
        return self.scheme != "file"

    @classmethod
    def parse(cls, location: str) -> "StorageLocation":
        if location.startswith("file://"):
            return cls("file", "", location[len("file://") :])
        if location.startswith("reference://"):
            # kerchunk virtual store: the "path" is the refs JSON
            # document (itself a local path or URL), kept verbatim
            rest = location[len("reference://") :]
            if not rest:
                raise ValueError(f"missing refs path in {location!r}")
            return cls("reference", "", rest)
        if location.startswith("icechunk://"):
            # transactional snapshot repo: "<repo>[@<ref>]", verbatim
            rest = location[len("icechunk://") :]
            if not rest:
                raise ValueError(f"missing repository path in {location!r}")
            return cls("icechunk", "", rest)
        for scheme in ("s3", "gs", "az", "http", "https"):
            prefix = f"{scheme}://"
            if location.startswith(prefix):
                rest = location[len(prefix) :]
                if not rest:
                    raise ValueError(f"missing bucket in {location!r}")
                bucket, _, path = rest.partition("/")
                return cls(scheme, bucket, path.rstrip("/"))
        if "://" in location:
            raise ValueError(
                f"unsupported storage scheme in {location!r} "
                "(supported: local paths, file://, s3://, gs://, az://, "
                "http://, https://)"
            )
        return cls("file", "", location)

    def url(self) -> str:
        if self.scheme == "file":
            return self.path
        if self.scheme == "reference":
            return f"reference://{self.path}"
        if self.scheme == "icechunk":
            return f"icechunk://{self.path}"
        return f"{self.scheme}://{self.bucket}/{self.path}"


class LocalStoreFS:
    """Filesystem adapter for local stores (sync reads, like the
    reference's local path ``zarr_reader.rs:61-64``)."""

    def exists(self, p: str) -> bool:
        import os

        return os.path.exists(p)

    def isdir(self, p: str) -> bool:
        import os

        return os.path.isdir(p)

    def listdir(self, p: str) -> list[str]:
        import os

        return os.listdir(p)

    def read_text(self, p: str) -> str:
        with open(p) as f:
            return f.read()

    def read_bytes(self, p: str) -> bytes:
        with open(p, "rb") as f:
            return f.read()

    def try_read_bytes(self, p: str) -> bytes | None:
        """One-round-trip read: None ONLY on definitive absence (the
        chunk-is-fill case); every other failure raises (the strict
        ADVICE r7 contract, same as the exists probes)."""
        try:
            with open(p, "rb") as f:
                return f.read()
        except FileNotFoundError:
            return None
        except NotADirectoryError:
            return None  # a path component is a file: definitively absent

    # -- write surface (transactional commits) ------------------------
    def obj_exists(self, p: str) -> bool:
        """Object-granular existence (no directory semantics) — the
        cheap skip probe for immutable content-addressed writes."""
        import os

        return os.path.isfile(p)

    def write_bytes(
        self, p: str, payload: bytes, *, if_none_match: bool = False
    ) -> None:
        """Atomic object write.  ``if_none_match`` is the conditional
        CREATE (HTTP ``If-None-Match: *`` semantics): the write
        succeeds only if no object exists at ``p``, else
        ``FileExistsError`` — fsync'd-tmp + ``os.link`` locally, so the
        object appears only with its complete bytes and exactly one
        concurrent creator wins."""
        import os

        os.makedirs(os.path.dirname(p) or ".", exist_ok=True)
        # pid+uuid tmp (tmp_name): two threads racing the same ref must
        # never share a tmp file (ADVICE r12)
        tmp = tmp_name(p)
        with open(tmp, "wb") as f:
            f.write(payload)
            f.flush()
            os.fsync(f.fileno())
        try:
            if if_none_match:
                os.link(tmp, p)  # O_EXCL race semantics, atomic content
            else:
                os.replace(tmp, p)
                return
        finally:
            try:
                os.unlink(tmp)
            except OSError:
                pass

    def delete_object(self, p: str) -> None:
        import os

        try:
            os.unlink(p)
        except FileNotFoundError:
            pass

    def mtime(self, p: str) -> float | None:
        """Object age for gc's grace window; None on absence."""
        import os

        try:
            return os.path.getmtime(p)
        except (FileNotFoundError, NotADirectoryError):
            return None


class HttpStoreFS:
    """Stdlib filesystem adapter for stores served over HTTP(S).  Works
    against any server exposing the store tree as plain GET-able paths
    with directory index pages (``http.server``, nginx autoindex, most
    static hosts); consolidated-metadata stores (``.zmetadata``) never
    hit the listing path at all, which is also the low-round-trip
    layout for real object stores.

    The read methods are written once, here, for plain HTTP and for
    the object stores below (:class:`ObjectStoreFS`), which override
    ``_obj_url`` (store path -> request URL), ``_send`` (how a request
    is authorized) and the listing.

    Each Spark task looks its adapter up by store URL (the adapter
    ships in the partition closure by URL, not by connection), so a
    1000-task scan fans requests out without a shared client — the
    Spark analog of the reference's per-store object-store client
    (``storage.rs:112-188``)."""

    _TIMEOUT = 10.0

    def _obj_url(self, p: str) -> str:
        return p

    def _send(self, req):
        import urllib.request

        return urllib.request.urlopen(req, timeout=self._TIMEOUT)

    def _open(self, url: str, method: str = "GET", data=None, headers=None):
        import urllib.request

        return self._send(
            urllib.request.Request(url, data=data, method=method, headers=headers or {})
        )

    def _ok(self, url: str, method: str = "GET") -> bool:
        return _probe_404(self._open, url, method)

    def exists(self, p: str) -> bool:
        # files answer HEAD directly; dir URLs redirect to p/ and then
        # serve an index page — both count (urllib follows redirects)
        return self._ok(p, method="HEAD") or self._ok(p.rstrip("/") + "/")

    def isdir(self, p: str) -> bool:
        # only directories serve an index at the trailing-slash URL;
        # file paths with a trailing slash 404
        return self._ok(p.rstrip("/") + "/")

    def listdir(self, p: str) -> list[str]:
        from html.parser import HTMLParser
        from urllib.parse import unquote, urlparse

        with self._open(p.rstrip("/") + "/") as resp:
            page = resp.read().decode("utf-8", "replace")

        class _Hrefs(HTMLParser):
            def __init__(self) -> None:
                super().__init__()
                self.names: list[str] = []

            def handle_starttag(self, tag, attrs):
                if tag != "a":
                    return
                href = dict(attrs).get("href")
                if not href or href.startswith(("?", "#")):
                    return
                path = urlparse(href).path.rstrip("/")
                name = unquote(path.rsplit("/", 1)[-1])
                # index pages link '..' / absolute parents; keep plain
                # child entries only
                if name and name not in ("..", "."):
                    self.names.append(name)

        parser = _Hrefs()
        parser.feed(page)
        return sorted(set(parser.names))

    def read_bytes(self, p: str) -> bytes:
        with self._open(self._obj_url(p)) as resp:
            return resp.read()

    def try_read_bytes(self, p: str) -> bytes | None:
        """ONE GET per chunk instead of HEAD-then-GET (halves the
        round trips of a remote scan); None only on a definitive 404
        — any other failure re-raises (strict ADVICE r7 contract)."""
        import urllib.error

        try:
            return self.read_bytes(p)
        except urllib.error.HTTPError as e:
            if e.code == 404:
                return None
            raise

    def read_text(self, p: str) -> str:
        return self.read_bytes(p).decode()

    def read_range(self, p: str, offset: int, length: int) -> bytes:
        """``length`` bytes at ``offset`` with one RFC 7233 ranged GET
        (a kerchunk chunk inside an archival file).  A server that
        ignores ``Range`` answers 200 with the whole object, which is
        sliced here."""
        headers = {"Range": f"bytes={offset}-{offset + length - 1}"}
        with self._open(self._obj_url(p), headers=headers) as resp:
            data = resp.read()
            whole = resp.status == 200
        if whole and len(data) > length:
            data = data[offset : offset + length]
        return data


class ObjectStoreFS(HttpStoreFS):
    """The object-store adapter: one read/write surface over path-style
    ``{endpoint}/{bucket}/{key}`` objects for ``s3://``, ``gs://`` and
    ``az://`` — the reference builds one ``object_store`` client per
    URL the same way (``storage.rs:63-193``).  A cloud's subclass
    supplies only what differs between clouds:

    - its endpoint and credentials (the constructor);
    - how a request is authorized (``_send``);
    - its listing call and parser (``_list_page``);
    - its conditional-create header (``_CREATE_HEADER``).

    Object stores have no directories: a "directory" exists iff some
    key lies under its prefix, and listings follow the store's
    continuation tokens, so levels with more keys than one page list
    completely.  Probes and reads keep the strict absence contract of
    :func:`_probe_404`: only a 404 reads as absent."""

    endpoint: str
    #: the request header that makes a PUT create-only
    _CREATE_HEADER = ("If-None-Match", "*")
    #: headers every PUT carries
    _PUT_HEADERS: dict[str, str] = {}

    @staticmethod
    def _split(p: str) -> tuple[str, str]:
        """``scheme://bucket/key`` -> (bucket, key)."""
        loc = StorageLocation.parse(p)
        return loc.bucket, loc.path.strip("/")

    def _url(self, base: str, query: str = "") -> str:
        return f"{base}?{query}" if query else base

    def _obj_url(self, p: str) -> str:
        from urllib.parse import quote

        bucket, key = self._split(p)
        return self._url(f"{self.endpoint}/{bucket}/{quote(key)}")

    def _list_page(
        self, bucket: str, prefix: str, token: str | None
    ) -> tuple[list[str], list[str], str | None]:
        """One listing request under ``prefix`` with delimiter ``/``:
        (child keys, child prefixes, continuation token or None)."""
        raise NotImplementedError

    def _list(self, p: str) -> tuple[str, list[str], list[str]]:
        """(key prefix, child keys, child prefixes) under ``p/``,
        following continuation tokens."""
        bucket, key = self._split(p)
        prefix = f"{key}/" if key else ""
        keys: list[str] = []
        prefixes: list[str] = []
        token: str | None = None
        while True:
            page_keys, page_prefixes, token = self._list_page(bucket, prefix, token)
            keys += page_keys
            prefixes += page_prefixes
            if not token:
                return prefix, keys, prefixes

    def exists(self, p: str) -> bool:
        return self.obj_exists(p) or self.isdir(p)

    def isdir(self, p: str) -> bool:
        _, keys, prefixes = self._list(p)
        return bool(keys or prefixes)

    def listdir(self, p: str) -> list[str]:
        prefix, keys, prefixes = self._list(p)
        names = {k[len(prefix) :] for k in keys}
        names |= {x[len(prefix) :].rstrip("/") for x in prefixes}
        return sorted(n for n in names if n)

    # -- write surface (transactional commits, the remote sink) ---------
    def obj_exists(self, p: str) -> bool:
        """One HEAD — object-granular, no prefix-listing fallback: the
        cheap skip probe for immutable content-addressed writes."""
        return self._ok(self._obj_url(p), method="HEAD")

    def write_bytes(
        self, p: str, payload: bytes, *, if_none_match: bool = False
    ) -> None:
        """PUT one object; object stores make per-key PUTs atomic, so
        a reader never sees partial bytes.  ``if_none_match`` sends the
        store's conditional CREATE (``_CREATE_HEADER``): when the key
        exists the store answers 412 (409 for S3's in-flight concurrent
        create and Azure's BlobAlreadyExists), raised as
        ``FileExistsError``."""
        import urllib.error

        headers = dict(self._PUT_HEADERS)
        if if_none_match:
            headers[self._CREATE_HEADER[0]] = self._CREATE_HEADER[1]
        try:
            with self._open(self._obj_url(p), "PUT", payload, headers):
                pass
        except urllib.error.HTTPError as e:
            if if_none_match and e.code in (409, 412):
                raise FileExistsError(p) from None
            raise

    def delete_object(self, p: str) -> None:
        """DELETE one object; an absent one (404) counts as deleted."""
        import urllib.error

        try:
            with self._open(self._obj_url(p), method="DELETE"):
                pass
        except urllib.error.HTTPError as e:
            if e.code != 404:
                raise

    def mtime(self, p: str) -> float | None:
        return _head_last_modified(self._open, self._obj_url(p))


def _xml_elements(body: bytes):
    """(local tag, element) for every element of an XML listing, its
    namespace stripped — S3 and Azure may qualify every tag, and a
    missed ``NextMarker`` would silently end pagination after one page
    (gc_repo builds its live set from these listings; ADVICE r12)."""
    import xml.etree.ElementTree as ET

    for el in ET.fromstring(body).iter():
        yield el.tag.rsplit("}", 1)[-1], el


def _child_text(el, want: str) -> str | None:
    for c in el:
        if c.tag.rsplit("}", 1)[-1] == want:
            return c.text
    return None


def _sigv4_headers(
    method: str,
    url: str,
    access_key: str,
    secret_key: str,
    session_token: str | None,
    region: str,
    amzdate: str | None = None,
    payload: bytes = b"",
) -> dict[str, str]:
    """AWS Signature Version 4 request headers for an S3 request —
    ``payload`` is the request body (empty for GET/HEAD; the PUT body
    for writes — its SHA256 rides in ``x-amz-content-sha256`` and the
    canonical request, so a tampered body fails verification).
    Pure stdlib (``hmac``/``hashlib``), implementing the
    public SigV4 algorithm (canonical request → string-to-sign → HMAC
    key derivation chain), the credentialed request path the reference
    builds through the AWS SDK credential chain (``storage.rs:134-151``).

    Returns ``x-amz-date``, ``x-amz-content-sha256`` (empty-payload
    SHA256 — GET/HEAD only), optional ``x-amz-security-token``, and
    the ``Authorization`` header.  The canonical URI is the request
    path exactly as sent (S3 signs the single-encoded path, no
    normalization) — callers must pass the URL in its wire form, i.e.
    with the key already RFC-3986-encoded, which
    :meth:`ObjectStoreFS._obj_url` does (``quote(key)``); keys needing
    encoding (space, '+', unicode, '%') therefore sign correctly —
    proven live in ``test_s3_sigv4_adapter_live`` against the
    signature-verifying server (ADVICE r8).  The canonical query
    re-encodes each decoded name/value RFC-3986-style and sorts —
    :meth:`S3HttpStoreFS._list_page` emits its query in exactly that
    canonical form, so what is signed is byte-for-byte what is sent."""
    import hashlib
    import hmac
    import time as _time
    from urllib.parse import parse_qsl, quote, urlsplit

    parts = urlsplit(url)
    if amzdate is None:
        amzdate = _time.strftime("%Y%m%dT%H%M%SZ", _time.gmtime())
    datestamp = amzdate[:8]

    def enc(s: str) -> str:
        return quote(s, safe="-_.~")

    canonical_query = "&".join(
        f"{k}={v}"
        for k, v in sorted(
            (enc(k), enc(v))
            for k, v in parse_qsl(parts.query, keep_blank_values=True)
        )
    )
    payload_hash = hashlib.sha256(payload).hexdigest()
    headers = {
        "host": parts.netloc,
        "x-amz-content-sha256": payload_hash,
        "x-amz-date": amzdate,
    }
    if session_token:
        headers["x-amz-security-token"] = session_token
    signed = ";".join(sorted(headers))
    canonical_headers = "".join(f"{k}:{headers[k]}\n" for k in sorted(headers))
    creq = "\n".join(
        [
            method,
            parts.path or "/",
            canonical_query,
            canonical_headers,
            signed,
            payload_hash,
        ]
    )
    scope = f"{datestamp}/{region}/s3/aws4_request"
    sts = "\n".join(
        [
            "AWS4-HMAC-SHA256",
            amzdate,
            scope,
            hashlib.sha256(creq.encode()).hexdigest(),
        ]
    )

    def _hm(key: bytes, msg: str) -> bytes:
        return hmac.new(key, msg.encode(), hashlib.sha256).digest()

    k = _hm(("AWS4" + secret_key).encode(), datestamp)
    k = _hm(k, region)
    k = _hm(k, "s3")
    k = _hm(k, "aws4_request")
    signature = hmac.new(k, sts.encode(), hashlib.sha256).hexdigest()
    out = {h: v for h, v in headers.items() if h != "host"}
    out["Authorization"] = (
        f"AWS4-HMAC-SHA256 Credential={access_key}/{scope}, "
        f"SignedHeaders={signed}, Signature={signature}"
    )
    return out


def _s3_env_credentials() -> tuple[str, str, str | None, str] | None:
    """(access_key, secret_key, session_token, region) from the
    standard AWS environment variables, or None when no key pair is
    present (anonymous/public-bucket mode)."""
    import os

    ak = os.environ.get("AWS_ACCESS_KEY_ID")
    sk = os.environ.get("AWS_SECRET_ACCESS_KEY")
    if not (ak and sk):
        return None
    region = (
        os.environ.get("AWS_REGION")
        or os.environ.get("AWS_DEFAULT_REGION")
        or "us-east-1"
    )
    return (ak, sk, os.environ.get("AWS_SESSION_TOKEN"), region)


class S3HttpStoreFS(ObjectStoreFS):
    """``s3://`` — the reference's S3 store (``storage.rs:134-151``) in
    both of its modes: ANONYMOUS (public buckets, unsigned requests)
    and CREDENTIALED (SigV4-signed requests, :func:`_sigv4_headers`,
    from the standard ``$AWS_ACCESS_KEY_ID`` /
    ``$AWS_SECRET_ACCESS_KEY`` / ``$AWS_SESSION_TOKEN`` environment
    chain — ship to executors via ``spark.executorEnv.*``).  Proven
    live against a local server that VERIFIES each signature before
    serving.

    Requests go path-style to an S3-compatible endpoint (AWS, MinIO,
    Ceph RGW, localstack) from the AWS SDK's ``$AWS_ENDPOINT_URL_S3`` /
    ``$AWS_ENDPOINT_URL`` (default ``https://s3.amazonaws.com``);
    listings are ListObjectsV2 (``?list-type=2&prefix=...&
    delimiter=/``) with continuation tokens."""

    def __init__(
        self,
        endpoint: str | None = None,
        credentials: tuple | str | None = "auto",
    ):
        import os

        self.endpoint = (
            endpoint
            or os.environ.get("AWS_ENDPOINT_URL_S3")
            or os.environ.get("AWS_ENDPOINT_URL")
            or "https://s3.amazonaws.com"
        ).rstrip("/")
        # credentials: "auto" -> read the AWS env chain; None -> force
        # unsigned (public-bucket mode); or an explicit
        # (access_key, secret_key, session_token, region) tuple
        self.credentials = (
            _s3_env_credentials() if credentials == "auto" else credentials
        )

    def _send(self, req):
        if self.credentials:
            ak, sk, token, region = self.credentials
            for h, v in _sigv4_headers(
                req.get_method(), req.full_url, ak, sk, token, region,
                payload=req.data or b"",
            ).items():
                req.add_header(h, v)
        return super()._send(req)

    def _list_page(self, bucket, prefix, token):
        """ListObjectsV2.  The query string is emitted in SigV4
        CANONICAL form (RFC-3986 encoding, sorted) so the signed
        canonical query is byte-identical to the wire bytes."""
        from urllib.parse import quote

        q = {"list-type": "2", "prefix": prefix, "delimiter": "/"}
        if token:
            q["continuation-token"] = token
        qs = "&".join(
            f"{k}={v}"
            for k, v in sorted(
                (quote(k, safe="-_.~"), quote(v, safe="-_.~")) for k, v in q.items()
            )
        )
        with self._open(f"{self.endpoint}/{bucket}?{qs}") as resp:
            body = resp.read()
        keys, prefixes, truncated, token = [], [], False, None
        for tag, el in _xml_elements(body):
            if tag == "Contents":
                keys.append(_child_text(el, "Key") or "")
            elif tag == "CommonPrefixes":
                prefixes.append(_child_text(el, "Prefix") or "")
            elif tag == "IsTruncated":
                truncated = (el.text or "").strip() == "true"
            elif tag == "NextContinuationToken":
                token = (el.text or "").strip() or None
        return keys, prefixes, token if truncated else None


def _b64url(b: bytes) -> str:
    import base64

    return base64.urlsafe_b64encode(b).rstrip(b"=").decode()


def _der_read(data: bytes, pos: int) -> tuple[int, bytes, int]:
    """One DER TLV: (tag, value, next_pos) — the minimal ASN.1 walk
    RSA key parsing needs (definite lengths only, which is what PEM
    keys use)."""
    tag = data[pos]
    pos += 1
    ln = data[pos]
    pos += 1
    if ln & 0x80:
        nb = ln & 0x7F
        ln = int.from_bytes(data[pos : pos + nb], "big")
        pos += nb
    return tag, data[pos : pos + ln], pos + ln


def _rsa_private_from_der(der: bytes) -> tuple[int, int]:
    """(n, d) from a DER-encoded RSA private key — PKCS#1
    ``RSAPrivateKey`` (SEQUENCE of INTEGERs) or PKCS#8
    ``PrivateKeyInfo`` (which wraps a PKCS#1 blob in an OCTET
    STRING).  Pure stdlib; only the modulus and private exponent are
    needed for RSASSA-PKCS1-v1_5 signing via ``pow``."""
    _tag, body, _end = _der_read(der, 0)  # outer SEQUENCE
    elems: list[tuple[int, bytes]] = []
    pos = 0
    while pos < len(body):
        t, v, pos = _der_read(body, pos)
        elems.append((t, v))
    # PKCS#8: version INTEGER, AlgorithmIdentifier SEQUENCE, OCTET STRING
    if len(elems) >= 3 and elems[1][0] == 0x30 and elems[2][0] == 0x04:
        return _rsa_private_from_der(elems[2][1])
    ints = [int.from_bytes(v, "big") for t, v in elems if t == 0x02]
    if len(ints) < 4:
        raise ValueError("not an RSA private key (too few INTEGER fields)")
    _version, n, _e, d = ints[0], ints[1], ints[2], ints[3]
    return n, d


def _rsa_key_from_pem(pem: str) -> tuple[int, int]:
    import base64
    import re as _re

    m = _re.search(
        r"-----BEGIN (?:RSA )?PRIVATE KEY-----(.*?)-----END",
        pem,
        _re.DOTALL,
    )
    if not m:
        raise ValueError("no PEM private key block found")
    der = base64.b64decode("".join(m.group(1).split()))
    return _rsa_private_from_der(der)


#: DigestInfo prefix for SHA-256 (EMSA-PKCS1-v1_5, RFC 8017 §9.2)
_SHA256_DIGESTINFO = bytes.fromhex(
    "3031300d060960864801650304020105000420"
)


def _rsassa_pkcs1_sha256(message: bytes, n: int, d: int) -> bytes:
    """RSASSA-PKCS1-v1_5 over stdlib ``pow`` — the RS256 signature a
    GCS service-account JWT needs (public algorithm, RFC 8017 §8.2):
    EMSA-PKCS1-v1_5 encoding (00 01 FF.. 00 DigestInfo ‖ SHA-256),
    then the private-key power ``m^d mod n``."""
    import hashlib

    h = hashlib.sha256(message).digest()
    k = (n.bit_length() + 7) // 8
    pad_len = k - len(_SHA256_DIGESTINFO) - len(h) - 3
    if pad_len < 8:
        raise ValueError("RSA modulus too small for SHA-256 PKCS#1 v1.5")
    em = b"\x00\x01" + b"\xff" * pad_len + b"\x00" + _SHA256_DIGESTINFO + h
    return pow(int.from_bytes(em, "big"), d, n).to_bytes(k, "big")


#: the one scope every GCS token is requested with: reads, and the
#: PUTs/DELETEs of icechunk commits and the remote sink
_GCS_SCOPE = "https://www.googleapis.com/auth/devstorage.read_write"

#: process-wide token cache: creds path -> (access_token, expiry_unix).
#: Each Spark Python worker process fetches at most one token per key
#: file and reuses it until 60 s before expiry.
_GCS_TOKEN_CACHE: dict[str, tuple[str, float]] = {}


def _gcs_access_token(creds_path: str, force: bool = False) -> str:
    """OAuth2 access token via the service-account JWT-bearer flow —
    pure stdlib, the credentialed half of the reference's GCS client
    (``storage.rs:155-188``, which delegates to the cloud SDK's same
    flow): build a RS256-signed JWT from the key file
    (``client_email`` / ``private_key`` / ``token_uri``), POST it as a
    ``jwt-bearer`` assertion grant, cache the returned token to
    expiry.  Proven live against a server that independently verifies
    the JWT signature before issuing (``tests/test_zarr_source.py``,
    the SigV4-verifier pattern).  ``force=True`` bypasses the cache
    (a server-side 401/403 on a cached token means it was revoked or
    the issuer rotated — refresh once and retry)."""
    import json as _json
    import time as _time
    import urllib.parse
    import urllib.request

    hit = _GCS_TOKEN_CACHE.get(creds_path)
    if not force and hit and hit[1] - 60 > _time.time():
        return hit[0]
    with open(creds_path) as f:
        info = _json.load(f)
    n, d = _rsa_key_from_pem(info["private_key"])
    now = int(_time.time())
    header = _b64url(_json.dumps({"alg": "RS256", "typ": "JWT"}).encode())
    claims = _b64url(
        _json.dumps(
            {
                "iss": info["client_email"],
                "scope": _GCS_SCOPE,
                "aud": info["token_uri"],
                "iat": now,
                "exp": now + 3600,
            }
        ).encode()
    )
    signing_input = f"{header}.{claims}".encode()
    sig = _rsassa_pkcs1_sha256(signing_input, n, d)
    assertion = f"{header}.{claims}.{_b64url(sig)}"
    body = urllib.parse.urlencode(
        {
            "grant_type": "urn:ietf:params:oauth:grant-type:jwt-bearer",
            "assertion": assertion,
        }
    ).encode()
    req = urllib.request.Request(
        info["token_uri"],
        data=body,
        method="POST",
        headers={"Content-Type": "application/x-www-form-urlencoded"},
    )
    with urllib.request.urlopen(req, timeout=10.0) as resp:
        payload = _json.loads(resp.read())
    token = payload["access_token"]
    expiry = _time.time() + float(payload.get("expires_in", 3600))
    _GCS_TOKEN_CACHE[creds_path] = (token, expiry)
    return token


class GcsHttpStoreFS(ObjectStoreFS):
    """``gs://`` — the reference's full GCS fallback chain
    (``storage.rs:155-188``): ANONYMOUS first (public buckets), then
    CREDENTIALED via the service-account OAuth2 JWT-bearer flow when
    the bucket refuses anonymous access and
    ``$GOOGLE_APPLICATION_CREDENTIALS`` names a key file.  The RS256
    JWT is signed with the stdlib RSA primitives above
    (:func:`_gcs_access_token`), and each request retries with
    ``Authorization: Bearer`` after a 401/403 — so public stores never
    pay a token round-trip, exactly the reference's
    anonymous-then-credentialed order.  The token's one scope,
    ``devstorage.read_write``, serves reads and writes alike.

    Objects go path-style through the XML API (``{endpoint}/{bucket}/
    {key}``; ``x-goog-if-generation-match: 0`` is the conditional
    create); listings use the JSON API (``{endpoint}/storage/v1/b/
    {bucket}/o?prefix=...&delimiter=/``) with ``nextPageToken``
    pagination.  The endpoint honors ``$STORAGE_EMULATOR_HOST`` (the
    GCS client-library emulator convention; fake-gcs-server, local
    test servers), defaulting to ``https://storage.googleapis.com``; on
    a cluster, ship the override via ``spark.executorEnv.*``."""

    _CREATE_HEADER = ("x-goog-if-generation-match", "0")

    def __init__(
        self,
        endpoint: str | None = None,
        credentials_path: str | None = "auto",
    ):
        import os

        ep = endpoint or os.environ.get("STORAGE_EMULATOR_HOST") or (
            "https://storage.googleapis.com"
        )
        if "://" not in ep:
            ep = f"http://{ep}"  # emulator convention: bare host:port
        self.endpoint = ep.rstrip("/")
        # "auto" -> the standard env chain; None -> force anonymous
        # (negative tests); else an explicit key-file path
        self.credentials_path = (
            os.environ.get("GOOGLE_APPLICATION_CREDENTIALS")
            if credentials_path == "auto"
            else credentials_path
        )

    def _send(self, req):
        import urllib.error

        try:
            return super()._send(req)
        except urllib.error.HTTPError as e:
            # anonymous-first, credentialed on refusal; a 401/403 with
            # no key file propagates under the strict probe contract
            if e.code not in (401, 403) or not self.credentials_path:
                raise
        for force in (False, True):
            # a cached token the server no longer accepts (revoked,
            # issuer restarted) is refreshed ONCE, then the refusal
            # propagates
            token = _gcs_access_token(self.credentials_path, force=force)
            req.add_header("Authorization", f"Bearer {token}")
            try:
                return super()._send(req)
            except urllib.error.HTTPError as e:
                if force or e.code not in (401, 403):
                    raise

    def _list_page(self, bucket, prefix, token):
        import json as _json
        import urllib.parse

        q = {"prefix": prefix, "delimiter": "/"}
        if token:
            q["pageToken"] = token
        url = f"{self.endpoint}/storage/v1/b/{bucket}/o?{urllib.parse.urlencode(q)}"
        with self._open(url) as resp:
            doc = _json.loads(resp.read())
        keys = [it["name"] for it in doc.get("items", []) if "name" in it]
        return keys, doc.get("prefixes", []), doc.get("nextPageToken")


class AzureHttpStoreFS(ObjectStoreFS):
    """``az://`` — Azure Blob Storage, the one storage scheme on the
    reference's roadmap (``README.md:322`` names S3/GCS/Azure) its code
    never implemented (``storage.rs:63-89`` has only local/s3/gs).
    Public-container (anonymous) requests plus optional SAS-token auth:
    a SAS rides as a query string on every request (the standard
    delegation mechanism Azure tooling emits), from
    ``$AZURE_STORAGE_SAS_TOKEN``.  Shared-key signing is deliberately
    not implemented — SAS covers the credentialed cases without key
    custody.

    Objects are path-style ``{endpoint}/{container}/{key}`` and PUT as
    ``BlockBlob``; listings use the List Blobs XML API
    (``?restype=container&comp=list&prefix=...&delimiter=/``) with
    ``NextMarker`` pagination.  The endpoint comes from
    ``$AZURE_STORAGE_ENDPOINT`` (Azurite/emulator or a custom domain)
    or ``https://{$AZURE_STORAGE_ACCOUNT}.blob.core.windows.net``."""

    _PUT_HEADERS = {"x-ms-blob-type": "BlockBlob"}

    def __init__(self, endpoint: str | None = None, sas: str | None = "auto"):
        import os

        ep = endpoint or os.environ.get("AZURE_STORAGE_ENDPOINT")
        if not ep:
            account = os.environ.get("AZURE_STORAGE_ACCOUNT")
            if not account:
                raise ValueError(
                    "az:// stores need $AZURE_STORAGE_ENDPOINT or "
                    "$AZURE_STORAGE_ACCOUNT"
                )
            ep = f"https://{account}.blob.core.windows.net"
        if "://" not in ep:
            ep = f"http://{ep}"  # emulator convention: bare host:port
        self.endpoint = ep.rstrip("/")
        self.sas = (
            os.environ.get("AZURE_STORAGE_SAS_TOKEN") if sas == "auto" else sas
        )
        if self.sas:
            self.sas = self.sas.lstrip("?")

    def _url(self, base: str, query: str = "") -> str:
        return super()._url(base, "&".join(q for q in (query, self.sas) if q))

    def _list_page(self, bucket, prefix, token):
        import urllib.parse

        q = {"restype": "container", "comp": "list", "prefix": prefix, "delimiter": "/"}
        if token:
            q["marker"] = token
        url = self._url(f"{self.endpoint}/{bucket}", urllib.parse.urlencode(q))
        with self._open(url) as resp:
            body = resp.read()
        keys, prefixes, marker = [], [], None
        for tag, el in _xml_elements(body):
            if tag in ("Blob", "BlobPrefix"):
                name = _child_text(el, "Name")
                if name:
                    (keys if tag == "Blob" else prefixes).append(name)
            elif tag == "NextMarker" and el.text:
                marker = el.text.strip() or None
        return keys, prefixes, marker


#: per-process adapter cache, shared by reads and writes: store path ->
#: (monotonic stamp, (adapter, normalized path)).  Executor tasks look
#: their adapter up per chunk read or write, so construction (env
#: credentials, a parsed refs document, a snapshot's manifest) is paid
#: once per location.  Entries expire after ``_ADAPTER_TTL_S`` so
#: expiring credentials (STS session tokens, short-lived SAS) captured
#: at construction are re-read from the environment within minutes
#: instead of 403-ing until process restart (ADVICE r12); 4 minutes
#: amortizes construction over many chunks while staying far inside
#: any token lifetime.  At most ``_ADAPTER_CACHE_SIZE`` entries, the
#: oldest evicted first.
_ADAPTER_TTL_S = 240.0
_ADAPTER_CACHE_SIZE = 64
_ADAPTER_CACHE: dict[str, tuple] = {}
_ADAPTER_LOCK = threading.Lock()

_OBJECT_STORES = {"s3": S3HttpStoreFS, "gs": GcsHttpStoreFS, "az": AzureHttpStoreFS}


def store_fs(store_path: str):
    """(adapter, normalized path) for a store location — the one
    dispatch for reads and writes: local paths, ``http(s)://``, the
    ``s3://``/``gs://``/``az://`` object stores, and the
    ``reference://`` and ``icechunk://`` views layered on them.
    Served from the adapter cache above, except an ``icechunk://`` URL
    naming a branch or tag, which resolves its ref on every call so a
    new commit is seen at once."""
    now = time.monotonic()
    hit = _ADAPTER_CACHE.get(store_path)
    if hit is not None and now - hit[0] < _ADAPTER_TTL_S:
        return hit[1]
    loc = StorageLocation.parse(store_path)
    if loc.scheme == "reference":
        from zarr_datafusion_spark.zarr.kerchunk import ReferenceStoreFS

        fs = ReferenceStoreFS(loc.path)
        out = (fs, fs.root)
    elif loc.scheme == "icechunk":
        from zarr_datafusion_spark.zarr.icechunk import (
            IcechunkStoreFS,
            parse_icechunk_url,
        )

        repo, ref = parse_icechunk_url(store_path)
        fs = IcechunkStoreFS(repo, ref, requested=store_path)
        out = (fs, fs.root)
        if store_path != fs.root:
            return out  # not pinned to a snapshot
    elif loc.scheme in ("http", "https"):
        out = (HttpStoreFS(), loc.url())
    elif loc.scheme == "file":
        out = (LocalStoreFS(), loc.path)
    else:
        out = (_OBJECT_STORES[loc.scheme](), loc.url())
    with _ADAPTER_LOCK:
        _ADAPTER_CACHE.pop(store_path, None)
        _ADAPTER_CACHE[store_path] = (now, out)
        while len(_ADAPTER_CACHE) > _ADAPTER_CACHE_SIZE:
            del _ADAPTER_CACHE[next(iter(_ADAPTER_CACHE))]
    return out


def writable_store_fs(path: str):
    """:func:`store_fs` for a write — the transactional layer (icechunk
    commits) and the distributed sink — refused loudly for a backend
    with no atomic conditional-create write path (plain http, the
    read-only reference and icechunk views): an unserialized ref
    publication is not transactional."""
    out = store_fs(path)
    if not hasattr(out[0], "write_bytes"):
        raise NotImplementedError(
            f"writes to {path!r}: the {type(out[0]).__name__} backend has "
            "no atomic conditional-create (If-None-Match) write path; "
            "writable stores are local paths, s3://, gs://, and az://"
        )
    return out
