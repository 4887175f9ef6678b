"""The benchmark's workloads: what each job runs and how its output is
checked against an independent oracle.

Each workload runs the unmodified package through its public entry
points (``plans.runner.run_job`` or ``cli.main``) and checks every
branch's output against DuckDB over the same generated input. Output
and expectation are compared as order-insensitive line digests, so a
branch that writes the right lines in any order and any number of part
files passes.
"""

from __future__ import annotations

import json
import shlex
import sys
from dataclasses import dataclass, field
from pathlib import Path
from typing import Callable

from gen import COLUMNS, Input, line_digest

SCRIPTS = Path(__file__).resolve().parent / "scripts"


@dataclass
class Outcome:
    """One job: wall seconds, epoch window and per-branch success."""

    seconds: float
    t0: float
    t1: float
    branches: dict[str, bool]
    counters: dict[str, int] = field(default_factory=dict)
    errors: dict[str, str] = field(default_factory=dict)


def _canon_hist(line: str) -> str:
    """ValueHistogram report ``key n min median max avg stddev``: the
    two doubles are rounded to 9 significant digits, since Spark and
    DuckDB print doubles differently."""
    f = line.split("\t")
    return "\t".join([*f[:5], *(f"{float(x):.9g}" for x in f[5:7])])


def _canon_plain(line: str) -> str:
    return line


def read_output_lines(path: Path):
    for part in sorted(path.glob("part-*")):
        with open(part, encoding="utf-8") as fh:
            for line in fh:
                yield line.rstrip("\n")


def _duck_table(inp: Input):
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads = 1")
    cols = ", ".join(f"'{k}': '{v}'" for k, v in COLUMNS.items())
    con.execute(
        f"CREATE VIEW t AS SELECT * FROM read_csv('{inp.data}/part-*.txt', delim='\t', "
        f"header=false, quote='', escape='', auto_detect=false, columns={{{cols}}})"
    )
    return con


class Workload:
    """A named job shape. Subclasses define ``rows`` (input size),
    ``oracle_sql`` (dir_key -> DuckDB query over table ``t`` whose rows,
    tab-joined, are the branch's expected output lines) and ``run``."""

    name: str
    rows: int
    oracle_sql: dict[str, str]
    canon: dict[str, Callable[[str], str]] = {}

    def expectations(self, inp: Input) -> dict[str, list]:
        """Per-branch [line count, digest], computed once per input with
        DuckDB and stored beside it."""
        path = inp.path / f"expect-{self.name}.json"
        if path.exists():
            return json.loads(path.read_text())
        con = _duck_table(inp)
        out = {}
        for key, sql in self.oracle_sql.items():
            canon = self.canon.get(key, _canon_plain)
            rows = con.execute(sql).fetchall()
            out[key] = list(line_digest(canon("\t".join(map(str, r))) for r in rows))
        con.close()
        tmp = path.with_suffix(".tmp")
        tmp.write_text(json.dumps(out, indent=1))
        tmp.rename(path)
        return out

    def check(self, out: Path, expect: dict[str, list]) -> list[str]:
        """Branch keys whose output differs from the oracle."""
        bad = []
        for key, want in expect.items():
            canon = self.canon.get(key, _canon_plain)
            d = out / key
            if not (d / "_SUCCESS").exists():
                bad.append(key)
                continue
            got = list(line_digest(canon(x) for x in read_output_lines(d)))
            if got != want:
                bad.append(key)
        return bad

    def check_counters(self, inp: Input, outcome: Outcome) -> str | None:
        """A counter that disagrees with the input, or None."""
        return None

    def run(self, spark, inp: Input, out: Path, tracer) -> Outcome:
        raise NotImplementedError


# ---------------------------------------------------------------- native


def _hist_sql(key: str, value: str, where: str) -> str:
    return (
        f"WITH f AS (SELECT {key} AS k, {value} AS v, count(*) AS cnt FROM t "
        f"WHERE {where} GROUP BY 1, 2) "
        "SELECT k, count(*), min(cnt), list_sort(list(cnt))[count(*) // 2 + 1], "
        "max(cnt), sum(cnt)::DOUBLE / count(*), "
        "sqrt(sum(cnt * cnt)::DOUBLE / count(*) - (sum(cnt)::DOUBLE / count(*)) "
        "* (sum(cnt)::DOUBLE / count(*))) FROM f GROUP BY k"
    )


class FanoutNative(Workload):
    """8 selective native branches over one persisted scan: four feed
    the ``aggregate`` reducer (LongValueSum / ValueHistogram keys), four
    use native groupBy reducers. No Python worker runs, so a change to
    the pipe path should not move this workload; a change to scan
    sharing or aggregation should."""

    name = "fanout8_native"
    rows = 100_000
    oracle_sql = {
        "n0": "SELECT c1, sum(c4) FROM t WHERE c8 = 'R' GROUP BY c1",
        "n1": _hist_sql("c14", "c3", "c14 IN ('AIR', 'REG AIR')"),
        "n2": "SELECT c2, sum(c4) FROM t WHERE c6 >= '0.05' GROUP BY c2",
        "n3": _hist_sql("c8", "c14", "c10 < '1995-01-01'"),
        "n4": "SELECT c14, count(*) FROM t WHERE c9 = 'F' GROUP BY c14",
        "n5": "SELECT c8, sum(c5) FROM t WHERE c13 = 'DELIVER IN PERSON' GROUP BY c8",
        "n6": "SELECT c2, max(c4) FROM t WHERE c3 <= 2 GROUP BY c2",
        "n7": "SELECT c14, count(DISTINCT c1) FROM t WHERE c4 > 25 GROUP BY c14",
    }
    canon = {"n1": _canon_hist, "n3": _canon_hist}

    def branches(self):
        from pyspark.sql import functions as F

        from hadoop_multiple_streaming_spark.plans.model import AGGREGATE, Branch

        def mapper(where, key, value, prefix=None):
            def m(lines):
                c = F.split(F.col("line"), "\t")
                k = c[key] if prefix is None else F.concat(F.lit(prefix + ":"), c[key])
                return lines.where(where(c)).select(k.alias("key"), c[value].alias("value"))

            return m

        def reducer(agg):
            def r(kv):
                return kv.groupBy("key").agg(agg(F.col("value")).cast("string").alias("value"))

            return r

        return [
            Branch("n0", mapper(lambda c: c[8] == "R", 1, 4, "LongValueSum"), AGGREGATE),
            Branch("n1", mapper(lambda c: c[14].isin("AIR", "REG AIR"), 14, 3, "ValueHistogram"), AGGREGATE),
            Branch("n2", mapper(lambda c: c[6] >= "0.05", 2, 4, "LongValueSum"), AGGREGATE),
            Branch("n3", mapper(lambda c: c[10] < "1995-01-01", 8, 14, "ValueHistogram"), AGGREGATE),
            Branch("n4", mapper(lambda c: c[9] == "F", 14, 4), reducer(F.count)),
            Branch("n5", mapper(lambda c: c[13] == "DELIVER IN PERSON", 8, 5),
                   reducer(lambda v: F.sum(v.cast("decimal(12,2)")))),
            Branch("n6", mapper(lambda c: c[3].cast("int") <= 2, 2, 4),
                   reducer(lambda v: F.max(v.cast("bigint")))),
            Branch("n7", mapper(lambda c: c[4].cast("int") > 25, 14, 1), reducer(F.count_distinct)),
        ]

    def run(self, spark, inp: Input, out: Path, tracer) -> Outcome:
        from hadoop_multiple_streaming_spark.plans import runner
        from hadoop_multiple_streaming_spark.plans.model import JobSpec

        spec = JobSpec(inputs=[str(inp.data)], output=str(out),
                       branches=self.branches(), share_mode="persist")
        with tracer.span("runner.run_job") as sp:
            res = runner.run_job(spark, spec)
        return Outcome(sp.seconds, sp.t0, sp.t1,
                       {r.dir_key: r.success for r in res.results}, res.counters,
                       {r.dir_key: r.error for r in res.results if r.error})


# ------------------------------------------------------------------- cli

#: (dir_key, cut field list); every mapper emits 3 fields, the first two
#: are the key (-numKeyFields 2) and the third is the quantity summed
CLI_BRANCHES = [("c0", "2,3,5"), ("c1", "2,4,5"), ("c2", "3,4,5"), ("c3", "1,4,5")]


class CliMaterializeReduce(Workload):
    """``cli.main(argv)`` with ``-shareMode materialize``: 4 ``cut``
    mappers write ``mapoutput/``, then 4 shipped Python streaming-sum
    reducers read it back through a key-field partition sort on field 1
    (Zipf-hot) and a pipe reduce. The reference's full two-phase flow;
    writes sit beside reads.

    The reducer runs as ``<python> <absolute path>`` although it is also
    shipped with ``-file``: operators.pipe resolves only argv[0] against
    shipped files, so ``python sum_reduce.py`` would not find it."""

    name = "cli_materialize_reduce"
    rows = 40_000
    oracle_sql = {
        key: (
            f"SELECT c{int(fields.split(',')[0]) - 1}, c{int(fields.split(',')[1]) - 1}, "
            f"sum(c4) FROM t GROUP BY 1, 2"
        )
        for key, fields in CLI_BRANCHES
    }

    def __init__(self, mapper_override: dict[str, str] | None = None):
        #: dir_key -> mapper command replacing the cut (tests use it to
        #: make one branch fail)
        self.mapper_override = mapper_override or {}

    def argv(self, inp: Input, out: Path) -> list[str]:
        script = str(SCRIPTS / "sum_reduce.py")
        reducer = f"{shlex.quote(sys.executable)} {shlex.quote(script)}"
        argv = [
            "-input", str(inp.data), "-output", str(out),
            "-shareMode", "materialize", "-numKeyFields", "2",
            "-D", "mapred.text.key.partitioner.options=-k1,1",
            "-file", script,
        ]
        for key, fields in CLI_BRANCHES:
            mapper = self.mapper_override.get(key, f"cut -f{fields}")
            argv += ["-mapred", f"{key}|{mapper}|{reducer}"]
        return argv

    def run(self, spark, inp: Input, out: Path, tracer) -> Outcome:
        from hadoop_multiple_streaming_spark import cli

        captured = []
        with tracer.wrap(cli, "parse_job", "cli.parse_job"), \
                tracer.wrap(cli, "run_job", "runner.run_job", results=captured):
            with tracer.span("cli.main") as sp:
                rc = cli.main(self.argv(inp, out))
        branches = {k: False for k, _ in CLI_BRANCHES}
        counters, errors = {}, {}
        if captured:
            res = captured[-1]
            branches.update({r.dir_key: r.success for r in res.results})
            counters = res.counters
            errors = {r.dir_key: r.error for r in res.results if r.error}
        if rc != 0 and all(branches.values()):
            branches = dict.fromkeys(branches, False)
        for k, ok in branches.items():
            if not ok:
                errors.setdefault(k, f"cli.main exit code {rc}")
        return Outcome(sp.seconds, sp.t0, sp.t1, branches, counters, errors)

    def check_counters(self, inp: Input, outcome: Outcome) -> str | None:
        """Every mapper and every reducer sees each input row once, so the
        pipe layer writes exactly rows x 8 records to its subprocesses."""
        want = inp.rows * 2 * len(CLI_BRANCHES)
        got = outcome.counters.get("pipe.records_written")
        return None if got == want else f"pipe.records_written={got}, want {want}"


WORKLOADS: dict[str, Workload] = {w.name: w for w in (FanoutNative(), CliMaterializeReduce())}
