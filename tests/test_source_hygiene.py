"""Every package module compiles with warnings turned into errors. An
invalid escape sequence in a plain string (say ``"\\p{L}"`` in a docstring)
is a DeprecationWarning on Python 3.11 and a SyntaxWarning from 3.12 on."""

from __future__ import annotations

import glob
import os
import warnings

import pytest

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "vectrekker_spark")
SOURCES = sorted(glob.glob(os.path.join(PKG, "**", "*.py"), recursive=True))


def test_package_sources_found():
    assert len(SOURCES) > 50


@pytest.mark.parametrize("path", SOURCES, ids=lambda p: os.path.relpath(p, PKG))
def test_compiles_without_warnings(path):
    with open(path, encoding="utf-8") as f:
        source = f.read()
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        compile(source, path, "exec")
