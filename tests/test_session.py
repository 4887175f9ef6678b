"""Session-contract guard: the engine-level Spark defaults that
operators and the at-scale record (CROSSOVER.md, DEPLOY.md) depend on.
These are behavioral, not cosmetic — e.g. a long-lived machine-heap
driver OOMs on accumulated completed-job state without the periodic
cleaner GC, and the io codec moves the whole sf0.1 bench ~18%
(DEPLOY.md round-11 A/B) — so a silent default change must fail a
test, not a future sf4.0 run.
"""

from __future__ import annotations

import re

from hadoop_multiple_streaming_spark.session import _default_driver_memory


def test_engine_session_defaults(spark):
    conf = spark.conf
    # shuffle/spill/broadcast block codec: lz4 (round-11 full-bench A/B,
    # DEPLOY.md codec table — zstd's density is a ~18% family-shaped
    # compute tax on floor-dominated work; pass it via extra_conf / -D
    # where shuffle BYTES are scarce, e.g. the heavy-SF crossover runs)
    assert conf.get("spark.io.compression.codec") == "lz4"
    # bounded completed-job state in long-lived sessions (measured
    # UNABLE_TO_ACQUIRE_MEMORY on the 3rd consecutive sf4.0 heavy run
    # at the 30-min default; A/B showed no cost at 5 min)
    assert conf.get("spark.cleaner.periodicGC.interval") == "5min"
    # the scale posture operators assume
    assert conf.get("spark.sql.adaptive.enabled") == "true"
    assert conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"
    assert conf.get("spark.sql.execution.arrow.pyspark.enabled") == "true"


def test_console_progress_bar_off(spark):
    # PySpark switches the bar on; get_spark's session keeps it off
    sc = spark.sparkContext
    assert sc.getConf().get("spark.ui.showConsoleProgress") == "false"
    assert not sc._jsc.sc().progressBar().isDefined()


def test_extra_conf_overrides_defaults():
    # callers may override any engine default without a new session
    # actually being built here — check the builder path statically:
    # get_spark applies extra_conf AFTER the defaults, so last-wins.
    import inspect

    from hadoop_multiple_streaming_spark import session as mod

    src = inspect.getsource(mod.get_spark)
    defaults = src.index("spark.io.compression.codec")
    extras = src.index("extra_conf or {}")
    assert defaults < extras, "extra_conf must be applied after defaults"


def test_default_driver_memory_is_machine_sized():
    mem = _default_driver_memory()
    m = re.fullmatch(r"(\d+)g", mem)
    assert m, mem
    assert 4 <= int(m.group(1)) <= 64


def _run_script(tmp_path, body, timeout):
    """Run ``body`` as a script in a fresh interpreter whose cwd is
    ``tmp_path`` (not the repo) and whose only path to the engine is
    the repo put on ``sys.path`` by the script itself."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = tmp_path / "drive.py"
    script.write_text(f"import sys\nsys.path.insert(0, {repo!r})\n" + body)
    return subprocess.run(
        [sys.executable, str(script)],
        cwd=str(tmp_path),
        capture_output=True,
        text=True,
        timeout=timeout,
        env={**os.environ, "PYTHONPATH": ""},
    )


def test_worker_boundary_ops_run_with_foreign_cwd(tmp_path):
    """r12 regression: module-level Arrow closures (mapInPandas feature
    extraction) unpickle BY REFERENCE to engine modules, so a Python
    worker whose cwd is NOT the repo needs the engine shipped via
    sc.addPyFile. get_spark/tune_session now ship unconditionally —
    this drives a worker-boundary operator from a foreign cwd in a
    fresh interpreter (its own JVM; ~20 s) to pin the contract a real
    cluster depends on."""
    out = _run_script(
        tmp_path,
        "from pyspark.sql import functions as F\n"
        "from hadoop_multiple_streaming_spark.session import get_spark\n"
        "from hadoop_multiple_streaming_spark.operators.multimodal import (\n"
        "    extract_features, fake_decode_meta)\n"
        "spark = get_spark(app_name='ship-test', master='local[2]', shuffle_partitions=2)\n"
        "df = spark.range(8).select(F.col('id'),"
        " F.lit('image').alias('modality'),"
        " F.encode(F.col('id').cast('string'), 'utf-8').alias('content'))\n"
        "n = extract_features(df, decoder=fake_decode_meta).count()\n"
        "assert n == 8, n\n"
        "print('SHIP_OK', n)\n",
        timeout=180,
    )
    assert "SHIP_OK 8" in out.stdout, out.stdout[-2000:] + out.stderr[-2000:]


def test_zip_directory_kept_until_archive_changes(tmp_path):
    """_zipcache in a fresh interpreter, so the patch stays out of this
    session: repeated invalidations re-read no zip directory, and a zip
    rewritten in place is read again, once."""
    out = _run_script(
        tmp_path,
        "import importlib, os, zipfile, zipimport\n"
        "zp = os.path.abspath('mods.zip')\n"
        "with zipfile.ZipFile(zp, 'w') as zf:\n"
        "    zf.writestr('a.py', 'A = 1\\n')\n"
        "sys.path.insert(0, zp)\n"
        "import a\n"
        "import hadoop_multiple_streaming_spark  # installs the shim\n"
        "reads = []\n"
        "eager = zipimport._read_directory\n"
        "def counted(path):\n"
        "    reads.append(path)\n"
        "    return eager(path)\n"
        "zipimport._read_directory = counted\n"
        "for _ in range(5):\n"
        "    importlib.invalidate_caches()\n"
        "assert reads == [], reads\n"
        "with zipfile.ZipFile(zp, 'w') as zf:\n"
        "    zf.writestr('a.py', 'A = 1\\n')\n"
        "    zf.writestr('b.py', 'B = 2\\n')\n"
        "importlib.invalidate_caches()\n"
        "if sys.version_info < (3, 13):\n"
        "    assert len(reads) == 1, reads\n"
        "import b\n"
        "assert b.B == 2 and len(reads) == 1, reads\n"
        "print('ZIP_OK')\n",
        timeout=120,
    )
    assert "ZIP_OK" in out.stdout, out.stdout[-2000:] + out.stderr[-2000:]


def test_reused_worker_reads_no_zip_directory_per_task(tmp_path):
    """Six one-partition tasks on a local[1] session run in one reused
    worker; from the second task on, the per-task
    importlib.invalidate_caches() must re-read no zip (without the
    shim, each task re-reads 22 zip directories, 12 of them
    pyspark.zip's)."""
    out = _run_script(
        tmp_path,
        "import json\n"
        "from hadoop_multiple_streaming_spark.session import get_spark\n"
        "spark = get_spark(app_name='zip-reuse-test', master='local[1]',"
        " shuffle_partitions=1)\n"
        "def probe(rows):\n"
        "    import os, zipimport\n"
        "    import hadoop_multiple_streaming_spark  # noqa: F401\n"
        "    reads = getattr(zipimport, '_probe_reads', None)\n"
        "    if reads is None:\n"
        "        reads = zipimport._probe_reads = [0]\n"
        "        eager = zipimport._read_directory\n"
        "        def counted(path):\n"
        "            reads[0] += 1\n"
        "            return eager(path)\n"
        "        zipimport._read_directory = counted\n"
        "    for _ in rows:\n"
        "        pass  # a task that leaves input unread loses its worker\n"
        "    yield os.getpid(), reads[0]\n"
        "rdd = spark.sparkContext.parallelize([0], 1)\n"
        "runs = [rdd.mapPartitions(probe).collect()[0] for _ in range(6)]\n"
        "print('PROBE', json.dumps(runs))\n",
        timeout=180,
    )
    lines = [ln for ln in out.stdout.splitlines() if ln.startswith("PROBE ")]
    assert lines, out.stdout[-2000:] + out.stderr[-2000:]
    import json

    runs = json.loads(lines[-1][len("PROBE "):])
    assert len(runs) == 6
    assert len({pid for pid, _ in runs}) == 1, runs
    assert [n for _, n in runs[1:]] == [0] * 5, runs
