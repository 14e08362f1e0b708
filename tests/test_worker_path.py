"""Python workers of ``get_spark`` sessions import pontem_spark from the
directory holding the package, whatever the driver's cwd, and keep a
worker ``PYTHONPATH`` the caller passes in ``extra_conf``."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.parametrize("own_path", [False, True], ids=["default", "extra_conf"])
def test_udf_imports_pontem_spark_from_any_cwd(tmp_path, own_path):
    """A fresh driver in a temp cwd with no PYTHONPATH runs a mapInPandas
    that imports pontem_spark; with the caller's own
    ``spark.executorEnv.PYTHONPATH`` it imports from both."""
    extra, imports = {}, ["pontem_spark"]
    if own_path:
        own = tmp_path / "own"
        own.mkdir()
        (own / "pontem_own_mod.py").write_text("VALUE = 1\n")
        extra = {"spark.executorEnv.PYTHONPATH": str(own)}
        imports.append("pontem_own_mod")
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from pontem_spark.session import get_spark

        spark = get_spark(master="local[1]", extra_conf={extra!r})

        def udf(it):
            import importlib
            for m in {imports!r}:
                importlib.import_module(m)
            yield from it

        print("ROWS", spark.range(3).mapInPandas(udf, "id long").count())
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(PONTEM_DRIVER_MEM="1g", SPARK_GRAFT_CPUS="1")
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert "ROWS 3" in out.stdout, out.stderr[-3000:]
