"""Session factory: the shipped package zip and the fixed confs."""

import os
import zipfile

from lyra_spark import session


def _package(root):
    pkg = root / "pkg"
    (pkg / "sub").mkdir(parents=True)
    (pkg / "__init__.py").write_text("X = 1\n")
    (pkg / "sub" / "mod.py").write_text("Y = 2\n")
    (pkg / "__pycache__").mkdir()
    (pkg / "__pycache__" / "junk.cpython-311.pyc").write_bytes(b"\0")
    return pkg


def test_package_zip_is_shared_and_content_named(tmp_path):
    """Every build of the same sources gives one zip (no per-process file
    left behind); an edited source gets a new name; bytecode never ships."""
    pkg, dest = _package(tmp_path), tmp_path / "dest"
    dest.mkdir()
    first = session.package_zip(str(pkg), str(dest))
    assert session.package_zip(str(pkg), str(dest)) == first
    assert os.listdir(dest) == [os.path.basename(first)]
    with zipfile.ZipFile(first) as zf:
        assert sorted(zf.namelist()) == ["pkg/__init__.py", "pkg/sub/mod.py"]
    # new bytecode alone changes nothing
    (pkg / "__pycache__" / "more.cpython-311.pyc").write_bytes(b"\1")
    assert session.package_zip(str(pkg), str(dest)) == first
    (pkg / "sub" / "mod.py").write_text("Y = 3\n")
    edited = session.package_zip(str(pkg), str(dest))
    assert edited != first
    assert sorted(os.listdir(dest)) == sorted(os.path.basename(p) for p in (first, edited))


def test_call_site_capture_is_off(spark):
    """Column calls skip PySpark's call-site capture (py4j round trips per
    call); tests/test_driver_overhead.py pins what that saves."""
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
