"""Loader for the C object-structure parser (``_cobj.c``).

Unlike ``_ctext.c`` (plain shared object driven through ctypes), this one
is a real CPython extension — it builds Python dicts/lists/bytes/Name/Ref
directly through the C API, so it needs the interpreter headers at compile
time. :func:`cbuild.build` compiles it once per machine (as for cinterp);
it is then imported via :class:`importlib.machinery.ExtensionFileLoader`.

When headers or a compiler are missing ``AVAILABLE`` is False and pdfb
keeps its pure-Python ``parse_object`` (the reference implementation;
equivalence asserted by tests/test_cobj.py)."""

from __future__ import annotations

import sysconfig
from importlib.machinery import ExtensionFileLoader
from importlib.util import module_from_spec, spec_from_loader

from pdf_parse_new_spark.kernels import cbuild

_MODNAME = "_pdf_parse_cobj"

_mod = None
AVAILABLE = False


def _load():
    so = cbuild.build(
        "_cobj.c", "cobj", (f"-I{sysconfig.get_paths()['include']}",)
    )
    loader = ExtensionFileLoader(_MODNAME, so)
    spec = spec_from_loader(_MODNAME, loader)
    mod = module_from_spec(spec)
    loader.exec_module(mod)
    return mod


try:
    _mod = _load()
    AVAILABLE = True
except Exception:
    AVAILABLE = False


# bind the raw C function (no Python-frame wrapper in the hot path)
parse_object = _mod.parse_object if AVAILABLE else None


def configure(name_cls, ref_cls) -> None:
    _mod.configure(name_cls, ref_cls)
