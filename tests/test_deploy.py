"""Driver-side deployment helpers: the default driver heap and the
--py-files package zip. No Spark session is started here."""

from __future__ import annotations

import os
import tempfile
import zipfile

from ocr_search_spark import deploy
from ocr_search_spark.session import driver_memory

GIB = 1 << 30


def test_driver_memory_default_scales_with_host(monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    assert driver_memory(int(15.6 * GIB)) == "6g"  # 4-vCPU / 15 GB host
    assert driver_memory(64 * GIB) == "24g"  # capped
    assert driver_memory(512 * GIB) == "24g"
    assert driver_memory(1 * GIB) == "1g"  # never below 1g
    assert driver_memory(32 * GIB) == "12g"
    assert driver_memory() in {f"{g}g" for g in range(1, 25)}


def test_driver_memory_env_wins(monkeypatch):
    monkeypatch.setenv("SPARK_DRIVER_MEM", "1g")
    assert driver_memory(64 * GIB) == "1g"
    assert driver_memory() == "1g"
    monkeypatch.setenv("SPARK_DRIVER_MEM", "")
    assert driver_memory(64 * GIB) == "24g"


def _pkg(root, files: dict[str, str]):
    root.mkdir()
    for rel, text in files.items():
        path = root / rel
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(text)
    return root


def _zipped(path: str) -> dict[str, str]:
    with zipfile.ZipFile(path) as zf:
        return {n: zf.read(n).decode() for n in zf.namelist()}


def test_package_zip_is_keyed_on_the_source_listing(tmp_path, monkeypatch):
    """Two checkouts get two zips, each holding its own code; an unchanged
    tree reuses its zip; deleting a module yields a zip without it."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    a = _pkg(tmp_path / "a", {"__init__.py": "A = 1\n", "jobs.py": "x = 'a'\n"})
    b = _pkg(tmp_path / "b", {"__init__.py": "B = 22\n", "jobs.py": "x = 'bb'\n",
                              "sub/extra.py": "y = 2\n"})

    monkeypatch.setattr(deploy, "_PKG_DIR", a)
    zip_a = deploy.package_zip()
    assert os.path.dirname(zip_a) == str(tmp_path)
    assert deploy.package_zip() == zip_a  # unchanged tree: reused
    assert _zipped(zip_a) == {"ocr_search_spark/__init__.py": "A = 1\n",
                              "ocr_search_spark/jobs.py": "x = 'a'\n"}

    monkeypatch.setattr(deploy, "_PKG_DIR", b)
    zip_b = deploy.package_zip()
    assert zip_b != zip_a
    assert _zipped(zip_b)["ocr_search_spark/jobs.py"] == "x = 'bb'\n"
    assert "ocr_search_spark/sub/extra.py" in _zipped(zip_b)

    (b / "sub" / "extra.py").unlink()
    zip_b2 = deploy.package_zip()
    assert zip_b2 != zip_b
    assert "ocr_search_spark/sub/extra.py" not in _zipped(zip_b2)

    # the first checkout still resolves to its own, untouched zip
    monkeypatch.setattr(deploy, "_PKG_DIR", a)
    assert deploy.package_zip() == zip_a
    assert _zipped(zip_a)["ocr_search_spark/jobs.py"] == "x = 'a'\n"
