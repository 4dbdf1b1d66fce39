"""Every module of the package compiles without a warning."""

import pathlib
import warnings

import pyproj_spark

PKG = pathlib.Path(pyproj_spark.__file__).parent


def test_package_compiles_without_warnings():
    bad = []
    for path in sorted(PKG.rglob("*.py")):
        with warnings.catch_warnings():
            # an invalid string escape is a SyntaxWarning from Python
            # 3.12 and a DeprecationWarning before it
            warnings.simplefilter("error", SyntaxWarning)
            warnings.simplefilter("error", DeprecationWarning)
            try:
                compile(path.read_text(encoding="utf-8"), str(path), "exec")
            except (SyntaxError, SyntaxWarning, DeprecationWarning) as e:
                bad.append(f"{path.relative_to(PKG)}: {e}")
    assert not bad, bad
