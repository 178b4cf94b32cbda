"""Shared path/URI normalization.

One definition of the file:-URI → local-path rule (reference treats
`file://` sources as local storage, lightning/lightning.go:273-279):
strip the scheme, collapse the slash run, and percent-decode — a
file: URI is the one place %XX escapes are authoritative. Plain local
paths pass through byte-identical (a file literally named `a%20b.csv`
must stay untouched). Seven inline copies of this rule had drifted
(six of them skipped the unquote); every consumer now calls here.
"""

from __future__ import annotations

import re
from urllib.parse import unquote

_FILE_URI = re.compile(r"^file:/+")


def file_uri_to_path(path: str) -> str:
    """`file:`-URI -> percent-decoded local path; anything else unchanged."""
    if path.startswith("file:"):
        return _FILE_URI.sub("/", unquote(path))
    return path


def is_remote(path: str) -> bool:
    """True for scheme'd URIs (s3a://, hdfs://, ...) a local open() cannot
    read; `file:` URIs are local."""
    return "://" in path and not path.startswith("file:")
