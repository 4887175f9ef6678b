"""Fan-out orchestration tests (F1, O1-O4): N branches over one input,
failure isolation, output layout out/<dirKey>/, materialize mode,
native-callable branches, CLI."""

import os
import sys

import pytest
from pyspark.sql import functions as F

from hadoop_multiple_streaming_spark.cli import main as cli_main
from hadoop_multiple_streaming_spark.plans.model import SHARE_MODES, Branch, JobSpec
from hadoop_multiple_streaming_spark.plans.runner import (
    EXIT_BAD_INPUT,
    EXIT_INVALID_CONF,
    EXIT_OK,
    EXIT_OUTPUT_EXISTS,
    plan_branches,
    run_job,
)

WC_MAP = "wc_map_test.py"
WC_RED = "wc_red_test.py"


@pytest.fixture(scope="module")
def textdir(tmp_path_factory):
    d = tmp_path_factory.mktemp("fanout_input")
    (d / "part-0.txt").write_text("the quick fox\nthe lazy dog\n")
    (d / "part-1.txt").write_text("the fox\n\n")
    return str(d)


@pytest.fixture(scope="module")
def scripts(tmp_path_factory):
    d = tmp_path_factory.mktemp("scripts")
    mapper = d / WC_MAP
    mapper.write_text(
        "#!/usr/bin/env python3\nimport sys\n"
        "for line in sys.stdin:\n"
        "    for w in line.split():\n"
        "        print(w + '\\t1')\n"
    )
    reducer = d / WC_RED
    reducer.write_text(
        "#!/usr/bin/env python3\nimport sys\n"
        "cur, tot = None, 0\n"
        "for line in sys.stdin:\n"
        "    k, v = line.rstrip('\\n').split('\\t', 1)\n"
        "    if k != cur:\n"
        "        if cur is not None: print(cur + '\\t' + str(tot))\n"
        "        cur, tot = k, 0\n"
        "    tot += int(v)\n"
        "if cur is not None: print(cur + '\\t' + str(tot))\n"
    )
    return str(d)


def read_out(path):
    import glob

    rows = []
    for f in glob.glob(os.path.join(path, "part-*")):
        with open(f) as fh:
            rows.extend(line.rstrip("\n") for line in fh)
    return sorted(rows)


EXPECTED_WC = sorted(["the\t3", "quick\t1", "fox\t2", "lazy\t1", "dog\t1"])


def test_single_branch_wordcount(spark, textdir, scripts, tmp_path):
    out = str(tmp_path / "out")
    spec = JobSpec(
        inputs=[textdir],
        output=out,
        branches=[
            Branch(
                "WC",
                mapper=f"{sys.executable} {scripts}/{WC_MAP}",
                reducer=f"{sys.executable} {scripts}/{WC_RED}",
                num_reduce_tasks=2,
            )
        ],
    )
    res = run_job(spark, spec)
    assert res.succeeded and res.exit_code == EXIT_OK
    assert read_out(f"{out}/WC") == EXPECTED_WC


def test_multi_branch_fanout_shared_scan(spark, textdir, scripts, tmp_path):
    # F1: 3 branches, one input; layouts out/<dirKey>/ each
    out = str(tmp_path / "out")

    def native_upper(lines):
        return lines.select(F.upper("line").alias("line"))

    spec = JobSpec(
        inputs=[textdir],
        output=out,
        branches=[
            Branch(
                "WC",
                mapper=f"{sys.executable} {scripts}/{WC_MAP}",
                reducer=f"{sys.executable} {scripts}/{WC_RED}",
            ),
            Branch("CAT", mapper=None, reducer=None),  # identity map-only (S11)
            Branch("UP", mapper=native_upper, reducer=None),  # native branch (F3)
        ],
    )
    res = run_job(spark, spec)
    assert res.succeeded
    assert read_out(f"{out}/WC") == EXPECTED_WC
    # map-only identity: lines round-trip (empty value padded Hadoop-style)
    cat = read_out(f"{out}/CAT")
    assert "the quick fox\t" in cat and len(cat) == 4
    up = read_out(f"{out}/UP")
    assert "THE QUICK FOX\t" in up


def test_failure_isolation(spark, textdir, scripts, tmp_path):
    # one branch fails; siblings still succeed (MultiStreamJobRunner.java:109-124)
    out = str(tmp_path / "out")
    spec = JobSpec(
        inputs=[textdir],
        output=out,
        branches=[
            Branch("GOOD", mapper=None, reducer=None),
            Branch("BAD", mapper="/no/such/binary-xyz", reducer=None),
        ],
    )
    res = run_job(spark, spec)
    assert not res.succeeded
    by_key = {r.dir_key: r for r in res.results}
    assert by_key["GOOD"].success
    assert not by_key["BAD"].success
    assert read_out(f"{out}/GOOD")


def test_output_exists_exit_code(spark, textdir, tmp_path):
    out = str(tmp_path / "out")
    spec = JobSpec(inputs=[textdir], output=out, branches=[Branch("CAT")])
    assert run_job(spark, spec).succeeded
    res2 = run_job(spark, spec)  # same output -> errorifexists (O4 code 4)
    assert not res2.succeeded and res2.exit_code == EXIT_OUTPUT_EXISTS


def test_cli_plan_time_failures_map_exit_codes(spark, textdir, tmp_path):
    # materialize mode fails in phase 1, before branch isolation, so
    # these codes come from cli.main's plan-time handler, which shares
    # JobResult.exit_code's mapping
    def run(inp):
        return cli_main(
            [
                "-input", inp,
                "-output", str(tmp_path / "out"),
                "-mapred", "X|cat|NONE",
                "-shareMode", "materialize",
            ]
        )

    assert run(str(tmp_path / "missing")) == EXIT_BAD_INPUT
    assert run(textdir) == EXIT_OK
    assert run(textdir) == EXIT_OUTPUT_EXISTS


def test_materialize_mode_writes_intermediate(spark, textdir, scripts, tmp_path):
    out = str(tmp_path / "out")
    spec = JobSpec(
        inputs=[textdir],
        output=out,
        branches=[
            Branch(
                "WC",
                mapper=f"{sys.executable} {scripts}/{WC_MAP}",
                reducer=f"{sys.executable} {scripts}/{WC_RED}",
            ),
        ],
        share_mode="materialize",
    )
    res = run_job(spark, spec)
    assert res.succeeded
    assert read_out(f"{out}/WC") == EXPECTED_WC
    # reference phase-1 layout: out/mapoutput/<dirKey>/ (S7)
    inter = read_out(f"{out}/mapoutput/WC")
    assert "the\t1" in inter and len(inter) == 8  # 8 words in the input


def test_branch_parse():
    b = Branch.parse("WC|python map.py|python red.py")
    assert (b.dir_key, b.mapper, b.reducer) == ("WC", "python map.py", "python red.py")
    b = Branch.parse("K1/cat/wc")  # reference's '/' fallback
    assert (b.dir_key, b.mapper, b.reducer) == ("K1", "cat", "wc")
    b = Branch.parse("ONLY|cat|NONE")
    assert b.is_map_only
    with pytest.raises(ValueError):
        Branch.parse("|cat|wc")


def test_jobspec_rejects_unknown_share_mode():
    # a typo used to run silently as "none" (no cache, no mapoutput/)
    with pytest.raises(ValueError, match="persist, materialize, none"):
        JobSpec(
            inputs=["in"], output="out", branches=[Branch("CAT")],
            share_mode="materialise",
        )
    for mode in SHARE_MODES:
        JobSpec(inputs=["in"], output="out", branches=[Branch("CAT")], share_mode=mode)


def test_plan_branches_is_inspectable(spark, textdir):
    spec = JobSpec(inputs=[textdir], output="/tmp/unused", branches=[Branch("CAT")])
    plans = plan_branches(spark, spec)
    assert set(plans) == {"CAT"}
    assert "key" in plans["CAT"].columns  # a real DataFrame plan
    plans["CAT"].explain()  # must not throw


def test_cli_end_to_end(spark, textdir, scripts, tmp_path):
    out = str(tmp_path / "cli_out")
    rc = cli_main(
        [
            "-input",
            textdir,
            "-output",
            out,
            "-mapred",
            f"WC|{sys.executable} {scripts}/{WC_MAP}|{sys.executable} {scripts}/{WC_RED}",
            "-mapred",
            "CAT|cat|NONE",
            "-master",
            "local[4]",
        ]
    )
    assert rc == EXIT_OK
    assert read_out(f"{out}/WC") == EXPECTED_WC


def test_cli_file_shipped_script_as_interpreter_argument(spark, textdir, scripts, tmp_path):
    # -file ships the scripts; the branch names them relative to the
    # task's shipped files, as arguments to the interpreter (not argv[0])
    out = str(tmp_path / "cli_out")
    rc = cli_main(
        [
            "-input", textdir,
            "-output", out,
            "-mapred", f"WC|{sys.executable} {WC_MAP}|{sys.executable} {WC_RED}",
            "-file", f"{scripts}/{WC_MAP}",
            "-file", f"{scripts}/{WC_RED}",
        ]
    )
    assert rc == EXIT_OK
    assert read_out(f"{out}/WC") == EXPECTED_WC


def test_materialize_resume_skips_completed_phase1(spark, tmp_path):
    """resume=True: a _SUCCESS-marked mapoutput/<dirKey>/ survives and
    is NOT recomputed (its content is reused even if the input since
    changed); half-written branches are rewritten."""
    import shutil

    from hadoop_multiple_streaming_spark.plans.model import Branch, JobSpec
    from hadoop_multiple_streaming_spark.plans.runner import run_job

    indir = tmp_path / "in"
    indir.mkdir()
    (indir / "data.txt").write_text("a\nb\n")
    out = str(tmp_path / "out")

    def tag(label):
        def mapper(df):
            from pyspark.sql import functions as F

            return df.select(
                F.col("line").alias("key"), F.lit(label).alias("value")
            )

        return mapper

    spec = JobSpec(
        inputs=[str(indir)],
        output=out,
        branches=[Branch("B1", mapper=tag("run1")), Branch("B2", mapper=tag("run1"))],
        share_mode="materialize",
        overwrite=True,
    )
    assert run_job(spark, spec).succeeded

    # simulate a failed second run: B2's intermediate got half-written
    # (no _SUCCESS), B1's survived; mappers now emit 'run2'
    shutil.rmtree(out + "/B1")
    shutil.rmtree(out + "/B2")
    (tmp_path / "out" / "mapoutput" / "B2" / "_SUCCESS").unlink()
    spec2 = JobSpec(
        inputs=[str(indir)],
        output=out,
        branches=[Branch("B1", mapper=tag("run2")), Branch("B2", mapper=tag("run2"))],
        share_mode="materialize",
        overwrite=True,
        resume=True,
    )
    assert run_job(spark, spec2).succeeded
    b1 = {r.value for r in spark.read.text(out + "/B1").collect()}
    b2 = {r.value for r in spark.read.text(out + "/B2").collect()}
    # B1 reduced from the REUSED run1 intermediate; B2 was recomputed
    assert b1 == {"a\trun1", "b\trun1"}
    assert b2 == {"a\trun2", "b\trun2"}


def test_split_confs_restored_on_bad_input(spark, tmp_path):
    # regression: a failing plan build (missing input) must not leak
    # the min-partitions split confs (openCostInBytes=1 would make
    # every later scan in the shared session plan pathological splits)
    import pytest as _pytest

    from hadoop_multiple_streaming_spark.plans.model import Branch, JobSpec
    from hadoop_multiple_streaming_spark.plans.runner import run_job

    before = spark.conf.get("spark.sql.files.openCostInBytes", None)
    spec = JobSpec(
        inputs=[str(tmp_path / "definitely_missing")],
        output=str(tmp_path / "out"),
        branches=[Branch("X", mapper=None, reducer="cat")],
        min_input_partitions=4,
    )
    with _pytest.raises(Exception):
        run_job(spark, spec)
    assert spark.conf.get("spark.sql.files.openCostInBytes", None) == before


def test_failed_job_leaves_no_cached_scan(spark, textdir, tmp_path):
    # a job that raises, in phase 1 or while building its plans, must
    # still release the scan it persisted
    def three_columns(lines):
        return lines.select(F.col("line").alias("a"), F.lit(1).alias("b"), F.lit(2).alias("c"))

    def cache_state():
        jss = spark._jsparkSession
        return (
            spark.sparkContext._jsc.getPersistentRDDs().size(),
            jss.sharedState().cacheManager().isEmpty(),
        )

    cases = [
        (Exception, Branch("X", mapper="false"), "materialize"),
        (ValueError, Branch("X", mapper=three_columns), "persist"),
    ]
    spark.catalog.clearCache()
    for i, (error, branch, share_mode) in enumerate(cases):
        before = cache_state()
        spec = JobSpec(
            inputs=[textdir],
            output=str(tmp_path / f"out{i}"),
            branches=[branch],
            share_mode=share_mode,
        )
        with pytest.raises(error):
            run_job(spark, spec)
        assert cache_state() == before, share_mode


def test_materialize_crash_restart_exactly_once(spark, tmp_path):
    """Job-level crash recovery (the restartability story the
    materialize intermediate layout exists for; reference parity:
    MultiStreamJobRunner.java:48-83 resubmits the job and completed
    phase-1 outputs are reused): a run KILLED mid-phase-1 by a crashing
    subprocess mapper leaves a completed (_SUCCESS) intermediate for
    one branch and a partial dir (stray part file planted, no _SUCCESS)
    for the other. The resume run must (a) NOT re-invoke the completed
    branch's mapper subprocess — proven by an on-disk invocation log
    the subprocess itself appends to (local mode: executors share the
    FS), not by content inspection — and (b) produce exactly the
    output of a never-crashed run, with the planted garbage gone:
    exactly-once, job-level."""
    import shutil

    indir = tmp_path / "in"
    indir.mkdir()
    (indir / "data.txt").write_text("alpha\nbeta\ngamma\n")
    out = str(tmp_path / "out")
    invlog = tmp_path / "good_invocations.log"
    marker = tmp_path / "flaky_crashed_once"

    good = tmp_path / "good_map.py"
    good.write_text(
        "#!/usr/bin/env python3\n"
        "import sys\n"
        f"open({str(invlog)!r}, 'a').write('call\\n')\n"
        "for line in sys.stdin:\n"
        "    w = line.strip()\n"
        "    if w: print(w + '\\tG')\n"
    )
    flaky = tmp_path / "flaky_map.py"
    flaky.write_text(
        "#!/usr/bin/env python3\n"
        "import sys, os\n"
        f"if not os.path.exists({str(marker)!r}):\n"
        f"    open({str(marker)!r}, 'w').close()\n"
        "    print('partial\\tJUNK')\n"  # half-written output, then die
        "    sys.exit(1)\n"
        "for line in sys.stdin:\n"
        "    w = line.strip()\n"
        "    if w: print(w + '\\tF')\n"
    )

    def spec(resume):
        return JobSpec(
            inputs=[str(indir)],
            output=out,
            branches=[
                Branch("GOOD", mapper=f"{sys.executable} {good}"),
                Branch("FLAKY", mapper=f"{sys.executable} {flaky}"),
            ],
            share_mode="materialize",
            overwrite=True,
            resume=resume,
        )

    # run 1: FLAKY's subprocess exits non-zero -> phase 1 raises (the
    # "kill"); GOOD's intermediate completed concurrently
    with pytest.raises(Exception):
        run_job(spark, spec(resume=False))
    assert os.path.exists(f"{out}/mapoutput/GOOD/_SUCCESS")
    assert not os.path.exists(f"{out}/mapoutput/FLAKY/_SUCCESS")
    calls_run1 = invlog.read_text().count("call")
    assert calls_run1 > 0

    # make FLAKY's dir genuinely partial: a stray half-written part
    # file a real kill could leave behind
    os.makedirs(f"{out}/mapoutput/FLAKY", exist_ok=True)
    with open(f"{out}/mapoutput/FLAKY/part-00099", "w") as fh:
        fh.write("stale\tGARBAGE\n")

    # restart with resume: must succeed end to end
    assert run_job(spark, spec(resume=True)).succeeded

    # (a) completed branch NOT recomputed: zero new subprocess calls
    assert invlog.read_text().count("call") == calls_run1
    # (b) exactly-once final output — the planted garbage is gone and
    # every branch matches the never-crashed result
    assert read_out(f"{out}/GOOD") == sorted(
        ["alpha\tG", "beta\tG", "gamma\tG"]
    )
    assert read_out(f"{out}/FLAKY") == sorted(
        ["alpha\tF", "beta\tF", "gamma\tF"]
    )
    assert read_out(f"{out}/mapoutput/FLAKY") == sorted(
        ["alpha\tF", "beta\tF", "gamma\tF"]
    )


def test_progress_poller_reports_and_final_verdict(
    spark, textdir, scripts, tmp_path, capsys
):
    """O3 (MultiStreamJobRunner.java:74-108): while branches run, the
    poller prints `completed i/N done=[...] running=[...]`; after the
    job, every branch gets a final SUCCEEDED/FAILED verdict line
    (reportSuccessful parity). progress_interval=0.05 guarantees at
    least one tick even on a fast 2-branch job."""
    out = str(tmp_path / "out")
    spec = JobSpec(
        inputs=[textdir],
        output=out,
        branches=[
            Branch(
                "WC",
                mapper=f"{sys.executable} {scripts}/{WC_MAP}",
                reducer=f"{sys.executable} {scripts}/{WC_RED}",
            ),
            Branch("CAT", mapper=None, reducer=None),
        ],
    )
    res = run_job(spark, spec, progress_interval=0.05)
    assert res.succeeded
    captured = capsys.readouterr().out
    import re

    ticks = re.findall(
        r"\[runner\] completed (\d)/2 done=\[([^\]]*)\] running=\[([^\]]*)\]",
        captured,
    )
    assert ticks, captured  # at least one poll tick fired
    for n_done, done, running in ticks:
        done_keys = set(re.findall(r"'(\w+)'", done))
        running_keys = set(re.findall(r"'(\w+)'", running))
        assert int(n_done) == len(done_keys)
        # done/running partition the branch set at every tick
        assert done_keys | running_keys == {"WC", "CAT"}
        assert not done_keys & running_keys
    # per-branch final verdict lines (one each, SUCCEEDED)
    assert re.search(r"\[runner\] branch WC: SUCCEEDED .*-> .*/WC", captured)
    assert re.search(r"\[runner\] branch CAT: SUCCEEDED .*-> .*/CAT", captured)


def test_progress_poller_reports_failed_branch(spark, textdir, tmp_path, capsys):
    """O3/O4: a failing branch's final verdict line says FAILED with
    the error, while the sibling still reports SUCCEEDED."""
    out = str(tmp_path / "out")
    spec = JobSpec(
        inputs=[textdir],
        output=out,
        branches=[
            Branch("GOOD", mapper=None, reducer=None),
            Branch("BAD", mapper="/no/such/binary-xyz", reducer=None),
        ],
    )
    res = run_job(spark, spec, progress_interval=0.05)
    assert not res.succeeded
    captured = capsys.readouterr().out
    import re

    assert re.search(r"\[runner\] branch GOOD: SUCCEEDED", captured)
    assert re.search(r"\[runner\] branch BAD: FAILED", captured)


def test_cli_outputformat_parquet_roundtrip(spark, textdir, scripts, tmp_path):
    """S9 CLI exposure (-outputformat, RedStreamJob.java:785-797): a
    wordcount branch written as parquet finals, read back typed with
    (key, value) columns matching the text sink's content."""
    out = str(tmp_path / "pq_out")
    rc = cli_main(
        [
            "-input",
            textdir,
            "-output",
            out,
            "-mapred",
            f"WC|{sys.executable} {scripts}/{WC_MAP}|{sys.executable} {scripts}/{WC_RED}",
            "-outputformat",
            "parquet",
            "-master",
            "local[4]",
        ]
    )
    assert rc == EXIT_OK
    back = spark.read.parquet(f"{out}/WC")
    assert sorted(back.columns) == ["key", "value"]
    got = sorted(f"{r['key']}\t{r['value']}" for r in back.collect())
    assert got == EXPECTED_WC


def test_run_job_outputformat_json(spark, textdir, tmp_path):
    """S9 API: json finals for a map-only identity branch; G3 parity —
    num_reduce_tasks bounds the file count of the typed sink too."""
    import glob as _glob

    out = str(tmp_path / "json_out")
    spec = JobSpec(
        inputs=[textdir],
        output=out,
        branches=[Branch("CAT", mapper=None, reducer=None, num_reduce_tasks=1)],
        output_format="json",
    )
    res = run_job(spark, spec)
    assert res.succeeded
    back = spark.read.json(f"{out}/CAT")
    assert back.count() == 4
    data_files = [
        f
        for f in _glob.glob(f"{out}/CAT/part-*")
        if not f.endswith(".crc")
    ]
    assert len(data_files) == 1, data_files


def _logging_mapper(tmp_path, name, log):
    """A pipe mapper that logs its task partition to ``log`` once per
    invocation, then emits ``word\\t<name>`` per word."""
    script = tmp_path / f"{name}_map.py"
    script.write_text(
        "import os, sys\n"
        f"open({str(log)!r}, 'a').write(os.environ['mapred_task_partition'] + '\\n')\n"
        "for line in sys.stdin:\n"
        "    for w in line.split():\n"
        f"        print(w + '\\t{name}')\n"
    )
    return f"{sys.executable} {script}"


def test_materialize_phase1_is_one_job(spark, textdir, tmp_path):
    # phase 1 feeds all pipe mappers from one scan in one job; each
    # map-only branch then writes its final output in one job
    logs = {k: tmp_path / f"{k}.log" for k in ("A", "B", "C")}
    spec = JobSpec(
        inputs=[textdir],
        output=str(tmp_path / "out"),
        branches=[Branch(k, mapper=_logging_mapper(tmp_path, k, log)) for k, log in logs.items()],
        share_mode="materialize",
    )
    partitions = spark.read.text(textdir).rdd.getNumPartitions()
    tracker = spark.sparkContext.statusTracker()
    before = max(tracker.getJobIdsForGroup(None) or [-1])
    assert run_job(spark, spec).succeeded
    after = max(tracker.getJobIdsForGroup(None) or [-1])
    assert after - before == 1 + len(logs)
    for k, log in logs.items():
        # one invocation per input partition, no retries
        assert sorted(log.read_text().split()) == [str(p) for p in range(partitions)], k
        assert read_out(f"{tmp_path}/out/{k}") == read_out(f"{tmp_path}/out/mapoutput/{k}")
        assert f"quick\t{k}" in read_out(f"{tmp_path}/out/mapoutput/{k}")


def test_materialize_mixed_mappers_match_persist(spark, textdir, scripts, tmp_path):
    # pipe, native and identity mappers share the one phase-1 write;
    # intermediates equal the persist-mode map output, finals equal the
    # persist-mode finals
    def native_upper(lines):
        return lines.select(F.upper("line").alias("line"))

    def count_values(kv):
        return kv.groupBy("key").agg(F.count("*").cast("string").alias("value"))

    def branches(reduced):
        return [
            Branch(
                "WC",
                mapper=f"{sys.executable} {scripts}/{WC_MAP}",
                reducer=f"{sys.executable} {scripts}/{WC_RED}" if reduced else None,
            ),
            Branch("UP", mapper=native_upper, reducer=count_values if reduced else None),
            Branch("CAT"),
        ]

    def run(name, share_mode, reduced=True):
        out = str(tmp_path / name)
        spec = JobSpec(
            inputs=[textdir], output=out, branches=branches(reduced), share_mode=share_mode
        )
        assert run_job(spark, spec).succeeded
        return out

    mat = run("mat", "materialize")
    per = run("per", "persist")
    map_only = run("map_only", "persist", reduced=False)
    for k in ("WC", "UP", "CAT"):
        assert read_out(f"{mat}/mapoutput/{k}") == read_out(f"{map_only}/{k}"), k
        assert read_out(f"{mat}/{k}") == read_out(f"{per}/{k}"), k
    assert read_out(f"{mat}/WC") == EXPECTED_WC


def test_materialize_zero_row_branch_succeeds_empty(spark, textdir, scripts, tmp_path):
    out = str(tmp_path / "out")
    spec = JobSpec(
        inputs=[textdir],
        output=out,
        branches=[
            Branch("Z", mapper="awk 'NF>99'", reducer=f"{sys.executable} {scripts}/{WC_RED}"),
            Branch("CAT"),
        ],
        share_mode="materialize",
    )
    assert run_job(spark, spec).succeeded
    assert os.path.exists(f"{out}/mapoutput/Z/_SUCCESS")
    assert read_out(f"{out}/mapoutput/Z") == []
    assert os.path.exists(f"{out}/Z/_SUCCESS")
    assert read_out(f"{out}/Z") == []
    assert len(read_out(f"{out}/CAT")) == 4


def test_materialize_dir_key_with_equals_and_space(spark, textdir, tmp_path):
    out = str(tmp_path / "out")
    key = "k=v x"
    spec = JobSpec(
        inputs=[textdir],
        output=out,
        branches=[Branch(key, mapper="cat"), Branch("CAT")],
        share_mode="materialize",
    )
    assert run_job(spark, spec).succeeded
    assert sorted(os.listdir(f"{out}/mapoutput")) == ["CAT", key]
    assert os.path.exists(f"{out}/mapoutput/{key}/_SUCCESS")
    assert read_out(f"{out}/mapoutput/{key}") == read_out(f"{out}/mapoutput/CAT")
    assert read_out(f"{out}/{key}") == read_out(f"{out}/CAT")
    assert "the quick fox\t" in read_out(f"{out}/{key}")


def test_materialize_resume_sees_file_uri_output(spark, textdir, tmp_path):
    # the _SUCCESS marker of a file:// output is found through the
    # Hadoop FileSystem, so the completed branch's mapper is not re-run
    log = tmp_path / "good.log"
    out = tmp_path / "out"

    def spec(resume):
        return JobSpec(
            inputs=[textdir],
            output=f"file://{out}",
            branches=[Branch("GOOD", mapper=_logging_mapper(tmp_path, "G", log))],
            share_mode="materialize",
            overwrite=True,
            resume=resume,
        )

    assert run_job(spark, spec(resume=False)).succeeded
    calls = log.read_text().count("\n")
    assert calls > 0
    assert run_job(spark, spec(resume=True)).succeeded
    assert log.read_text().count("\n") == calls
    assert read_out(f"{out}/GOOD") == read_out(f"{out}/mapoutput/GOOD")
    assert "fox\tG" in read_out(f"{out}/GOOD")


@pytest.mark.parametrize("share_mode", ["persist", "materialize"])
def test_unset_reduce_tasks_sized_by_shuffle(spark, tmp_path, share_mode):
    # G3: with no reducer count a branch's small reduce shuffle runs
    # one reducer subprocess and writes one file; num_reduce_tasks=3
    # keeps exactly 3 of each; the outputs are the same lines
    indir = tmp_path / "in"
    indir.mkdir()
    lines = {f"k{i}\t{i}" for i in range(200)}
    (indir / "part-0.txt").write_text("".join(f"{line}\n" for line in lines))

    def run(name, num_reduce_tasks):
        spec = JobSpec(
            inputs=[str(indir)],
            output=str(tmp_path / name),
            branches=[
                Branch(
                    k,
                    reducer=f"sh -c 'echo reporter:counter:t,reducers_{k},1 >&2; cat'",
                    num_reduce_tasks=num_reduce_tasks,
                )
                for k in ("A", "B")
            ],
            share_mode=share_mode,
        )
        res = run_job(spark, spec)
        assert res.succeeded, res.results
        return res

    auto = run("auto", None)
    fixed = run("fixed", 3)
    for k in ("A", "B"):
        assert auto.counters[f"t.reducers_{k}"] == 1, auto.counters
        assert fixed.counters[f"t.reducers_{k}"] == 3, fixed.counters
        for name, files in (("auto", 1), ("fixed", 3)):
            out = f"{tmp_path}/{name}/{k}"
            assert len([f for f in os.listdir(out) if f.startswith("part-")]) == files
            assert set(read_out(out)) == lines, (name, k)


def test_cli_zero_reduce_tasks_is_map_only(spark, tmp_path):
    # -numReduceTasks 0 is Hadoop's map-only job (RedStreamJob.java:813-815):
    # every branch skips its reducer and writes its mapper's lines, one
    # file per map task (a reduce would leave this small input one
    # file); a negative count is an invalid conf
    indir = tmp_path / "in"
    indir.mkdir()
    lines = [f"k{i % 7}\tv{i}" for i in range(50)]
    (indir / "part-0.txt").write_text("".join(f"{line}\n" for line in lines))

    def run(name, reduce_tasks):
        return cli_main(
            [
                "-input", str(indir),
                "-output", str(tmp_path / name),
                "-mapred", "A|cat|cat",
                "-mapred", "B|cat|NONE",
                "-numReduceTasks", reduce_tasks,
                "-minPartitions", "3",
            ]
        )

    assert run("out", "0") == EXIT_OK
    for k in ("A", "B"):
        assert read_out(f"{tmp_path}/out/{k}") == sorted(lines), k
    files = [
        len([f for f in os.listdir(f"{tmp_path}/out/{k}") if f.startswith("part-")])
        for k in ("A", "B")
    ]
    assert files[0] == files[1] >= 2, files
    assert run("neg", "-1") == EXIT_INVALID_CONF
    with pytest.raises(ValueError, match="num_reduce_tasks must be >= 0"):
        Branch("X", num_reduce_tasks=-1)
