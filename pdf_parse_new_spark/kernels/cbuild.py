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
import pkgutil
import subprocess
import tempfile


def build(src: str, name: str, flags: tuple[str, ...] = ()) -> str:
    """Path of ``pdf_parse_<name>_<hash>.so`` compiled from ``src``, a
    file of this package, with ``flags``; compiles on first use. The
    source is read through the package's loader, so a ``--py-files`` zip
    works like a directory. Raises when no compiler (or header) is
    available; each caller documents what it does without the part."""
    code = pkgutil.get_data(__package__, src)
    h = hashlib.sha1(code).hexdigest()[:16]
    cache = os.environ.get("PDF_PARSE_CTEXT_CACHE", tempfile.gettempdir())
    so = os.path.join(cache, f"pdf_parse_{name}_{h}.so")
    if not os.path.exists(so):
        tmp = f"{so}.tmp.{os.getpid()}"
        with open(f"{tmp}.c", "wb") as f:
            f.write(code)
        try:
            subprocess.run(
                ["cc", "-O2", "-shared", "-fPIC", *flags, "-o", tmp,
                 f"{tmp}.c"],
                check=True, capture_output=True, timeout=120,
            )
        finally:
            os.remove(f"{tmp}.c")
        os.replace(tmp, so)
    return so
