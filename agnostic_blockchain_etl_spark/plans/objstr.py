"""Object-store URL access for pipeline configs and template sets.

Reference capability: the pipeline command loads its yaml through objstr
(/root/reference/cmd/pipeline/pipeline.go:63-69) and its templates by
listing ``*.sql`` under the config's URL prefix
(/root/reference/internal/utils/utils.go:77-106), so a pipeline can live
on s3/http as naturally as on local disk.

Capability map (mirrors objstr's providers honestly):

====================  ==========  ================================
scheme                read_text   list_sql (prefix listing)
====================  ==========  ================================
(plain path), file::  yes         yes (glob)
http(s)://            yes         no — plain HTTP cannot list; pass
                                  ``--template-path`` to a listable
                                  location
s3://                 via boto3   via boto3 (an optional
                                  dependency: without it both raise
                                  ObjstrError saying so)
====================  ==========  ================================
"""

from __future__ import annotations

import urllib.parse
import urllib.request
from pathlib import Path


class ObjstrError(RuntimeError):
    pass


def _scheme(url: str) -> str:
    parsed = urllib.parse.urlparse(str(url))
    # windows-style/one-letter schemes and bare paths are local
    return parsed.scheme if len(parsed.scheme) > 1 else ""


def _s3_client():
    try:
        import boto3  # type: ignore
    except ImportError as ex:  # pragma: no cover - boto3 is optional
        raise ObjstrError(
            "s3:// URLs need boto3, which is not installed in this "
            "environment; fetch the object to a local path or serve it "
            "over http(s)") from ex
    return boto3.client("s3")


def _split_s3(url: str) -> tuple[str, str]:
    p = urllib.parse.urlparse(url)
    return p.netloc, p.path.lstrip("/")


def read_text(url: str) -> str:
    """Fetch one object as text from a local path / file / http(s) / s3 URL."""
    scheme = _scheme(url)
    if scheme in ("", "file"):
        path = urllib.parse.urlparse(url).path if scheme == "file" else url
        return Path(path).read_text()
    if scheme in ("http", "https"):
        try:
            # bounded: a stalled config server must fail startup fast,
            # not hang the pipeline forever
            with urllib.request.urlopen(url, timeout=30) as resp:  # noqa: S310
                return resp.read().decode("utf-8")
        except OSError as ex:
            raise ObjstrError(f"cannot fetch {url!r}: {ex}") from ex
    if scheme == "s3":
        bucket, key = _split_s3(url)
        body = _s3_client().get_object(Bucket=bucket, Key=key)["Body"]
        return body.read().decode("utf-8")
    raise ObjstrError(f"unsupported URL scheme {scheme!r} in {url!r}")


def parent_url(url: str) -> str:
    """Directory prefix of a config URL (the reference defaults the
    template path to ``dir(config URL)``, cmd/pipeline/pipeline.go:76-78)."""
    if _scheme(url) == "":
        return str(Path(url).parent)
    parsed = urllib.parse.urlparse(url)
    parent = parsed.path.rsplit("/", 1)[0]
    return urllib.parse.urlunparse(parsed._replace(path=parent))


def list_sql(url: str) -> dict[str, str]:
    """``{base_name: content}`` for every ``*.sql`` under the URL prefix."""
    scheme = _scheme(url)
    if scheme in ("", "file"):
        root = Path(urllib.parse.urlparse(url).path if scheme == "file" else url)
        if not root.is_dir():
            raise ObjstrError(f"template dir not found: {root}")
        return {p.name: p.read_text() for p in sorted(root.glob("*.sql"))}
    if scheme == "s3":
        bucket, prefix = _split_s3(url)
        client = _s3_client()
        out: dict[str, str] = {}
        paginator = client.get_paginator("list_objects_v2")
        # Delimiter makes the listing NON-recursive, matching the local
        # scheme's glob('*.sql'): nested prefixes (other pipelines' dirs)
        # must not leak same-named templates into this set
        for page in paginator.paginate(Bucket=bucket,
                                       Prefix=prefix.rstrip("/") + "/",
                                       Delimiter="/"):
            for obj in page.get("Contents", []):
                key = obj["Key"]
                if key.endswith(".sql"):
                    body = client.get_object(Bucket=bucket, Key=key)["Body"]
                    out[key.rsplit("/", 1)[-1]] = body.read().decode("utf-8")
        return out
    if scheme in ("http", "https"):
        raise ObjstrError(
            "plain http(s) prefixes cannot be listed for templates; pass "
            "--template-path pointing at a local directory or s3:// prefix")
    raise ObjstrError(f"unsupported URL scheme {scheme!r} in {url!r}")
