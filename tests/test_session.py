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


def test_worker_boundary_ops_run_with_foreign_cwd(tmp_path):
    """r12 regression: module-level Arrow closures (mapInPandas feature
    extraction) unpickle BY REFERENCE to engine modules, so a Python
    worker whose cwd is NOT the repo needs the engine shipped via
    sc.addPyFile. get_spark/tune_session now ship unconditionally —
    this drives a worker-boundary operator from a foreign cwd in a
    fresh interpreter (its own JVM; ~20 s) to pin the contract a real
    cluster depends on."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = tmp_path / "drive.py"
    script.write_text(
        "import sys\n"
        f"sys.path.insert(0, {repo!r})\n"
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
        "print('SHIP_OK', n)\n"
    )
    out = subprocess.run(
        [sys.executable, str(script)],
        cwd=str(tmp_path),  # NOT the repo — the worker cannot rely on cwd
        capture_output=True,
        text=True,
        timeout=180,
        env={**os.environ, "PYTHONPATH": ""},
    )
    assert "SHIP_OK 8" in out.stdout, out.stdout[-2000:] + out.stderr[-2000:]
