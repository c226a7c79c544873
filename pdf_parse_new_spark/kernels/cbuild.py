"""Compile-once cache for the package's C parts (``_ctext.c``, ``_cobj.c``).

Each source is compiled ONCE per machine with the system C compiler into a
content-hash-keyed shared object under the temp dir (override with
``PDF_PARSE_CTEXT_CACHE``). Concurrent executors race safely: each
compiles to a private temp file and ``os.replace``s it into place (atomic
on POSIX). At cluster scale the .c files ride in the same ``--py-files``
archive as the package and each executor pays one compile at first use.
"""

from __future__ import annotations

import hashlib
import os
import subprocess
import tempfile


def build(src: str, name: str, flags: tuple[str, ...] = ()) -> str:
    """Path of ``pdf_parse_<name>_<hash>.so`` compiled from ``src`` with
    ``flags``; compiles on first use. Raises when no compiler (or header)
    is available — callers then keep their pure-Python path."""
    with open(src, "rb") as f:
        h = hashlib.sha1(f.read()).hexdigest()[:16]
    cache = os.environ.get("PDF_PARSE_CTEXT_CACHE", tempfile.gettempdir())
    so = os.path.join(cache, f"pdf_parse_{name}_{h}.so")
    if not os.path.exists(so):
        tmp = f"{so}.tmp.{os.getpid()}"
        subprocess.run(
            ["cc", "-O2", "-shared", "-fPIC", *flags, "-o", tmp, src],
            check=True, capture_output=True, timeout=120,
        )
        os.replace(tmp, so)
    return so
