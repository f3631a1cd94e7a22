"""Minimal S3-compatible conditional-put client surface + a local fake.

The engine's only metadata-atomicity primitive is the Committer
(index.Committer): every catalog mutation — segment markers, index
meta, the alias registry — becomes visible through exactly one
commit. `index.ObjectStoreCommitter` routes that primitive through
THIS three-call client surface, the subset of the S3 API a catalog
commit needs:

    put_object(key, body, if_none_match="*") -> etag      (412 -> raise)
    get_object(key)                          -> bytes     (404 -> raise)
    list_keys(prefix)                        -> list[str]

Conditional writes are real S3 API since 2024-08: PutObject honors
``If-None-Match: *`` and fails with HTTP 412 (PreconditionFailed) when
the key already exists — an atomic server-side create-if-absent. That
single primitive is enough for multi-writer CAS when documents are
GENERATION-KEYED (``<doc>.g<N>``: read latest N, mutate, put N+1
if-absent, retry on 412), which is exactly the loop CasCommitter
already runs; the committer deliberately does NOT depend on If-Match
ETag-swap semantics so it stays portable to stores that only ship the
create-if-absent form (GCS ``x-goog-if-generation-match: 0``, Azure
``If-None-Match: *``).

`FakeS3Store` is the in-sandbox stand-in (a moto/minio-style fake):
file-backed so REAL concurrent OS processes contend through it, with
the server-side guarantees S3 documents — atomic full-body visibility
(no torn reads) and atomic create-if-absent — emulated via hard-link
publication of fully-written temp files. Client code sees only the
API surface above, so swapping in boto3 against real S3 is a
constructor change.
"""

from __future__ import annotations

import hashlib
import os
import threading
import urllib.parse


class PreconditionFailed(Exception):
    """HTTP 412: the If-None-Match precondition failed (key exists)."""


class NoSuchKey(KeyError):
    """HTTP 404: no object at this key."""


class FakeS3Store:
    """File-backed fake of the S3 conditional-put surface.

    Keys are opaque strings (slashes and all), percent-encoded into a
    flat directory so listing is one readdir. Writes land in a temp
    file first and publish atomically:

    - unconditional put: os.replace (last-writer-wins overwrite, the
      S3 default),
    - put with If-None-Match "*": os.link, whose EEXIST failure is
      the 412 — create-if-absent decided atomically by the kernel, as
      S3 decides it server-side.

    Readers therefore never observe a partial body, matching S3's
    object-level atomicity.
    """

    def __init__(self, root: str) -> None:
        self.root = root
        os.makedirs(root, exist_ok=True)
        self._seq = 0
        self._lock = threading.Lock()

    def _fs(self, key: str) -> str:
        return os.path.join(self.root, urllib.parse.quote(key, safe=""))

    def _tmp(self) -> str:
        with self._lock:
            self._seq += 1
            n = self._seq
        return os.path.join(
            self.root,
            f".tmp.{os.getpid()}.{threading.get_ident()}.{n}",
        )

    def put_object(
        self, key: str, body: bytes, if_none_match: str | None = None
    ) -> str:
        """Store `body` at `key`; returns the ETag (content md5).
        if_none_match="*" -> atomic create-if-absent, raising
        PreconditionFailed when the key already exists (S3's 412)."""
        if if_none_match is not None and if_none_match != "*":
            raise ValueError("only If-None-Match: '*' is supported")
        tmp = self._tmp()
        with open(tmp, "wb") as f:
            f.write(body)
        dst = self._fs(key)
        try:
            if if_none_match == "*":
                try:
                    os.link(tmp, dst)
                except FileExistsError:
                    raise PreconditionFailed(key) from None
            else:
                os.replace(tmp, dst)
                tmp = None  # consumed by replace
        finally:
            if tmp is not None and os.path.exists(tmp):
                os.unlink(tmp)
        return hashlib.md5(body).hexdigest()

    def get_object(self, key: str) -> bytes:
        try:
            with open(self._fs(key), "rb") as f:
                return f.read()
        except FileNotFoundError:
            raise NoSuchKey(key) from None

    def list_keys(self, prefix: str) -> list[str]:
        out = []
        for f in os.listdir(self.root):
            if f.startswith(".tmp."):
                continue
            key = urllib.parse.unquote(f)
            if key.startswith(prefix):
                out.append(key)
        return sorted(out)


class Boto3S3Store:
    """boto3-backed implementation of the same three-call surface —
    the production client for ObjectStoreCommitter against real S3
    (or any S3-compatible endpoint: minio, moto-server, GCS's XML
    interop layer). Construction is the only difference from
    FakeS3Store; the committer above it is unchanged, which is the
    whole point of the narrow surface.

    Error mapping (the CAS loop's contract):
    - HTTP 412 PreconditionFailed on a conditional put -> raise
      PreconditionFailed (lost the create-if-absent race; committer
      re-reads and retries).
    - HTTP 409 ConditionalRequestConflict (real S3 returns this when
      CONCURRENT conditional writes to one key are in flight) is
      mapped to PreconditionFailed too: the committer's re-read/retry
      loop is exactly S3's documented recovery ("retry the request").
    - Missing key on get -> NoSuchKey.

    Reference parity: the atomic registry-generation put stands in for
    mario's single atomic aliases POST
    (/root/reference/pkg/client/elastic.go:113-125).

    Credentials ride the standard AWS chain (env/config/IMDS);
    `endpoint_url` points the client at a non-AWS endpoint. from_env()
    builds the store the integration tests use: MARIO_S3_TEST_BUCKET
    (required unless `bucket` is passed, as the CLI's --s3-bucket
    does), MARIO_S3_ENDPOINT and MARIO_S3_PREFIX (optional).
    """

    def __init__(
        self,
        bucket: str,
        prefix: str = "",
        client=None,
        endpoint_url: str | None = None,
        region: str | None = None,
    ) -> None:
        if client is None:
            import boto3

            kw: dict = {}
            if endpoint_url:
                kw["endpoint_url"] = endpoint_url
            if region:
                kw["region_name"] = region
            client = boto3.client("s3", **kw)
        self.client = client
        self.bucket = bucket
        self.prefix = prefix

    @classmethod
    def from_env(cls, bucket: str | None = None) -> "Boto3S3Store":
        bucket = bucket or os.environ["MARIO_S3_TEST_BUCKET"]
        return cls(
            bucket,
            prefix=os.environ.get("MARIO_S3_PREFIX", ""),
            endpoint_url=os.environ.get("MARIO_S3_ENDPOINT") or None,
            region=os.environ.get("AWS_REGION") or None,
        )

    def _k(self, key: str) -> str:
        return self.prefix + key

    def put_object(
        self, key: str, body: bytes, if_none_match: str | None = None
    ) -> str:
        from botocore.exceptions import ClientError

        if if_none_match is not None and if_none_match != "*":
            raise ValueError("only If-None-Match: '*' is supported")
        kw: dict = {
            "Bucket": self.bucket,
            "Key": self._k(key),
            "Body": body,
        }
        if if_none_match == "*":
            kw["IfNoneMatch"] = "*"
        try:
            resp = self.client.put_object(**kw)
        except ClientError as e:
            status = e.response.get("ResponseMetadata", {}).get(
                "HTTPStatusCode"
            )
            code = e.response.get("Error", {}).get("Code", "")
            if if_none_match == "*" and (
                status in (412, 409)
                or code in ("PreconditionFailed", "ConditionalRequestConflict")
            ):
                raise PreconditionFailed(key) from None
            raise
        return resp.get("ETag", "").strip('"')

    def get_object(self, key: str) -> bytes:
        from botocore.exceptions import ClientError

        try:
            return self.client.get_object(
                Bucket=self.bucket, Key=self._k(key)
            )["Body"].read()
        except ClientError as e:
            status = e.response.get("ResponseMetadata", {}).get(
                "HTTPStatusCode"
            )
            code = e.response.get("Error", {}).get("Code", "")
            if status == 404 or code in ("NoSuchKey", "404"):
                raise NoSuchKey(key) from None
            raise

    def list_keys(self, prefix: str) -> list[str]:
        out: list[str] = []
        paginator = self.client.get_paginator("list_objects_v2")
        for page in paginator.paginate(
            Bucket=self.bucket, Prefix=self._k(prefix)
        ):
            for obj in page.get("Contents", []):
                out.append(obj["Key"][len(self.prefix):])
        return sorted(out)
