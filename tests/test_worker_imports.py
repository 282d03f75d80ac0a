"""Python workers forget their zip finders after each UDF task.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task; under CPython 3.11/3.12 each cached ``zipimporter`` then
re-reads its archive's directory. ``session.forget_zip_finders`` runs after
the last batch of the scoring crossing (``scoring.with_batch_columns``) and
of the signature UDF, so the next task has none."""

import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

from data_quality_autohealer_spark.session import forget_zip_finders

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _zip_finders() -> int:
    return sum(isinstance(f, zipimport.zipimporter)
               for f in sys.path_importer_cache.values())


def test_forget_zip_finders_keeps_the_archive_importable(tmp_path):
    archive = str(tmp_path / "zpkg.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zpkg/__init__.py", "")
        z.writestr("zpkg/sub/__init__.py", "")
        z.writestr("zpkg/sub/first.py", "VALUE = 1\n")
        z.writestr("zpkg/sub/later.py", "VALUE = 2\n")
    sys.path.insert(0, archive)
    try:
        from zpkg.sub import first
        assert first.VALUE == 1 and _zip_finders() > 0
        forget_zip_finders()
        assert _zip_finders() == 0
        from zpkg.sub import later
        assert later.VALUE == 2
    finally:
        sys.path.remove(archive)
        for name in [m for m in sys.modules if m.split(".")[0] == "zpkg"]:
            del sys.modules[name]
        forget_zip_finders()


# One slot is one reused Python worker: the finder count the second job's
# UDF sees is what the scoring task (score_pages: the one mapInArrow node of
# scoring.with_batch_columns) left behind (16 without forget_zip_finders).
_PROBE = textwrap.dedent("""
    import numpy as np
    from pyspark.sql import functions as F
    from data_quality_autohealer_spark import synth
    from data_quality_autohealer_spark.plans.pipeline import score_pages
    from data_quality_autohealer_spark.session import get_spark

    spark = get_spark(master="local[1]", shuffle_partitions=1)
    pages = spark.createDataFrame(synth.gen_pages_pdf(np.arange(20)))
    scored = score_pages(pages)
    plan = scored._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan and "ArrowEvalPython" not in plan, plan
    assert len(scored.collect()) == 20

    @F.pandas_udf("long")
    def zip_finders(ids):
        import sys
        import zipimport
        return ids * 0 + sum(isinstance(f, zipimport.zipimporter)
                             for f in sys.path_importer_cache.values())

    print("ZIP_FINDERS", spark.range(1, numPartitions=1)
          .select(zip_finders("id")).first()[0])
    spark.stop()
""")


def test_next_task_on_a_reused_worker_has_no_zip_finder():
    env = {**os.environ, "SPARK_DRIVER_MEMORY": "1g",
           "PYTHONPATH": os.pathsep.join(
               [REPO, *filter(None, os.environ.get("PYTHONPATH", "")
                              .split(os.pathsep))])}
    out = subprocess.run([sys.executable, "-c", _PROBE], cwd=REPO, env=env,
                         capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    counts = [line.split()[1] for line in out.stdout.splitlines()
              if line.startswith("ZIP_FINDERS ")]
    assert counts == ["0"], out.stdout
