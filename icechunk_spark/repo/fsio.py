"""URI-aware filesystem helpers for the repo's BULK data plane.

The metadata plane goes through the pluggable ``Storage`` backends
(storage.py); the bulk plane (chunk/manifest/txlog parquet) is read
and written by Spark through Hadoop, so its paths may be URIs
(``s3a://bucket/...``).  Maintenance code (GC, manifest splitting)
that walked these paths with ``os.listdir`` / ``shutil.rmtree`` broke
the "pointing data_root at s3a:// is a config change" claim — every
bulk-plane walk now routes through here instead.

Built on ``pyarrow.fs`` (not the JVM Hadoop FileSystem) deliberately:
these helpers must also run inside Spark Python workers (GC reaps run
per name in executor tasks), where there is no JVM gateway.
``s3a://`` URIs are mapped to pyarrow's ``s3://`` scheme.
"""

from __future__ import annotations


def _fs_path(path: str):
    """Resolve a path-or-URI to (pyarrow FileSystem, fs-local path)."""
    from pyarrow import fs as pafs

    if "://" in path:
        if path.startswith("s3a://"):
            path = "s3://" + path[len("s3a://") :]
        return pafs.FileSystem.from_uri(path)
    return pafs.LocalFileSystem(), path


def list_child_names(path: str) -> list[str]:
    """Immediate child names (files and dirs) under ``path``; [] if the
    path does not exist.  Object-store-true: one LIST, no recursion."""
    from pyarrow import fs as pafs

    fs, p = _fs_path(path)
    try:
        infos = fs.get_file_info(pafs.FileSelector(p, recursive=False))
    except (FileNotFoundError, OSError):
        return []
    return sorted(i.base_name for i in infos)


def exists(path: str) -> bool:
    from pyarrow import fs as pafs

    fs, p = _fs_path(path)
    return fs.get_file_info(p).type != pafs.FileType.NotFound


def mtime(path: str) -> float | None:
    """Modification time (epoch seconds) of a file or directory; for a
    directory on stores without dir mtimes, the newest child mtime.
    None if the path doesn't exist / has no usable timestamp."""
    from pyarrow import fs as pafs

    fs, p = _fs_path(path)
    info = fs.get_file_info(p)
    if info.type == pafs.FileType.NotFound:
        return None
    if info.mtime is not None:
        return info.mtime.timestamp()
    if info.type == pafs.FileType.Directory:
        ts = [
            i.mtime.timestamp()
            for i in fs.get_file_info(pafs.FileSelector(p, recursive=True))
            if i.mtime is not None
        ]
        return max(ts) if ts else None
    return None


def read_range(path: str, offset: int, length: int) -> bytes:
    """Ranged read of a single file (virtual chunk refs): works on any
    pyarrow filesystem, driver- or executor-side.  ``http(s)://``
    locations take a Range-header GET instead (pyarrow has no HTTP
    filesystem) that preserves the URL verbatim — port, query string,
    params (reference #2219/#2223: virtual chunk locations keep
    userinfo/port/query/fragment, and HTTP reads honor the port)."""
    if path.startswith(("http://", "https://")):
        return _http_read_range(path, int(offset), int(length))
    fs, p = _fs_path(path)
    with fs.open_input_file(p) as f:
        f.seek(int(offset))
        return f.read(int(length))


def _http_read_range(url: str, offset: int, length: int) -> bytes:
    """Range GET of ``url`` bytes [offset, offset+length).  The URL's
    host:PORT, path, and ?query go on the wire untouched; userinfo
    (``http://user:pw@host/``) becomes a basic-auth header (urllib
    refuses credentialed netlocs); the #fragment is client-side only
    and is never sent.  A server that ignores Range and answers 200
    with the full body is sliced locally.

    CREDENTIALED reads refuse redirects (ADVICE r12): urllib's default
    handler re-sends every injected header — including Authorization —
    to the redirect target, so a 3xx could leak the userinfo
    credentials to a different host; a 3xx answer raises instead.
    Uncredentialed reads follow redirects normally (an http→https
    upgrade must keep working; only the Range header travels, which
    is the request's point).  A 206 answer must carry a Content-Range
    matching the requested offset, else it is an error — silently
    trusting a mispositioned partial body corrupts the chunk."""
    import base64
    import re
    import urllib.error
    import urllib.request
    from urllib.parse import urlsplit, urlunsplit

    parts = urlsplit(url)
    headers = {"Range": f"bytes={offset}-{offset + length - 1}"}
    netloc = parts.netloc
    if "@" in netloc:
        userinfo, _, host = netloc.rpartition("@")
        headers["Authorization"] = (
            "Basic " + base64.b64encode(userinfo.encode()).decode()
        )
        netloc = host
    clean = urlunsplit((parts.scheme, netloc, parts.path, parts.query, ""))
    req = urllib.request.Request(clean, headers=headers)

    if "Authorization" in headers:

        class _NoRedirect(urllib.request.HTTPRedirectHandler):
            def redirect_request(self, req, fp, code, msg, hdrs, newurl):  # noqa: ARG002
                return None  # urllib raises HTTPError(code) instead of following

        opener = urllib.request.build_opener(_NoRedirect)
    else:
        opener = urllib.request.build_opener()
    try:
        with opener.open(req, timeout=30) as resp:
            status = resp.status
            content_range = resp.headers.get("Content-Range", "")
            data = resp.read()
    except urllib.error.HTTPError as e:
        if 300 <= e.code < 400:
            raise OSError(
                f"ranged read of {clean}: server redirected ({e.code}) to "
                f"{e.headers.get('Location')!r}; redirects are not followed "
                "on credentialed ranged reads (Authorization would be "
                "re-sent to the target)"
            ) from e
        raise
    if status == 200:
        # 200 (not 206) = the server ignored Range and sent the full
        # body: ALWAYS slice the window.  data[:length] here returned
        # head-of-file bytes whenever the body was shorter than the
        # requested window (review r12).
        return data[offset : offset + length]
    if status == 206:
        # RFC 9110 range units are case-insensitive ("Bytes 3-7/64" is
        # a valid reply), and surrounding whitespace is tolerated
        m = re.match(
            r"\s*bytes\s+(\d+)-(\d+)/(?:\d+|\*)", content_range, re.IGNORECASE
        )
        if not m or int(m.group(1)) != offset:
            raise OSError(
                f"ranged read of {clean}: 206 Content-Range "
                f"{content_range!r} does not start at requested offset "
                f"{offset}"
            )
        # the END byte and the body must cover the requested window
        # too — a server that honestly advertises a short partial
        # ("bytes 3-4/64" for a 5-byte request) would otherwise
        # silently truncate the chunk (review r14)
        span = int(m.group(2)) - offset + 1
        if span < length or len(data) < min(span, length):
            raise OSError(
                f"ranged read of {clean}: 206 Content-Range "
                f"{content_range!r} / {len(data)}-byte body does not "
                f"cover the requested {length}-byte window at {offset}"
            )
    return data[:length]


def parquet_parts(path: str) -> list[tuple[str, int]]:
    """``(part, bytes)`` of the parquet file ``path`` (part ``""``) or of
    the parquet files under the dir ``path`` (part: the path inside it;
    hidden ``.``/``_`` files skipped); [] when ``path`` is missing."""
    from pyarrow import fs as pafs

    fs, p = _fs_path(path.rstrip("/"))
    if (info := fs.get_file_info(p)).type == pafs.FileType.File:
        return [("", info.size)]
    if info.type != pafs.FileType.Directory:
        return []
    return sorted(
        (i.path[len(p) + 1 :], i.size)
        for i in fs.get_file_info(pafs.FileSelector(p, recursive=True))
        if i.is_file and i.extension == "parquet" and i.base_name[0] not in "._"
    )


def dir_size(path: str) -> int:
    """Total bytes of all files under ``path`` (one recursive LIST)."""
    from pyarrow import fs as pafs

    fs, p = _fs_path(path)
    try:
        infos = fs.get_file_info(pafs.FileSelector(p, recursive=True))
    except (FileNotFoundError, OSError):
        return 0
    return sum(i.size or 0 for i in infos if i.is_file)


def delete_dir(path: str) -> bool:
    """Recursively delete a directory (prefix).  Returns True when the
    path is gone afterwards (including already-missing), False when the
    delete FAILED and the path is still present — so GC accounting
    counts real outcomes, not attempts (ADVICE r4: a permissions or
    network failure must not be reported as bytes reclaimed)."""
    from pyarrow import fs as pafs

    fs, p = _fs_path(path)
    try:
        fs.delete_dir(p)
        return True
    except FileNotFoundError:
        return True
    except OSError:
        # pyarrow raises plain OSError for both not-found and genuine
        # failures on some backends: re-check before deciding.
        try:
            return fs.get_file_info(p).type == pafs.FileType.NotFound
        except OSError:
            return False


def reap(path: str, cutoff: float, dry_run: bool = False) -> int:
    """The age-gated delete of every GC reap: 1 when ``path`` was
    written before ``cutoff`` (epoch seconds) and is now deleted — or,
    under ``dry_run``, would be — else 0.  A path that vanished, has no
    timestamp or failed to delete is not counted."""
    ts = mtime(path)
    if ts is None or ts >= cutoff:
        return 0
    return int(dry_run or delete_dir(path))
