"""Tests of the diff-job benchmark. Run from the repository root:

    python3 -m unittest discover -s perfbench/tests -v

They build the engine (as perfbench/run.py does), so the first run takes
about a minute longer.
"""

import json
import os
import pathlib
import shutil
import subprocess
import sys
import unittest

import duckdb

ROOT = pathlib.Path.cwd()
BENCH = ROOT / "perfbench"
sys.path.insert(0, str(BENCH))
import run  # noqa: E402

# (partition key, clustering key) per generated table
KEYS = {"lineitem": ("l_orderkey", "l_linenumber"), "orders": ("o_orderkey", None)}
COUNTERS = ("matched_partitions", "mismatched_partitions", "only_in_source",
            "only_in_target", "matched_rows", "matched_values", "mismatched_values")
WORK = run.BUILD / "tests"


def generate(workload, seed, partitions):
    """Run the generator; returns its directory and expected.json."""
    out = WORK / f"{workload}-{seed}"
    shutil.rmtree(out, ignore_errors=True)
    classes = run.build()
    subprocess.run(
        ["java", "-Xmx1g", "-XX:-UsePerfData", "-Duser.timezone=UTC", f"-Djava.io.tmpdir={run.BUILD}",
         f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}"]
        + [a for p in run.ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
        + ["-cp", os.pathsep.join([str(classes), str(run.SPARK_JARS / "*")]),
           "perfbench.PerfBench", "gen", "--workload", workload, "--seed", str(seed),
           "--partitions", str(partitions), "--work", str(out)],
        cwd=ROOT, check=True, timeout=300)
    return out, json.loads((out / "expected.json").read_text())


def recount(src, tgt, table):
    """The diff's RangeStats and repair-statement count, recomputed in
    DuckDB from the two parquet tables alone."""
    pk, ck = KEYS[table]
    con = duckdb.connect()
    con.execute(f"CREATE VIEW s AS SELECT * FROM read_parquet('{src}/{table}.parquet/*.parquet')")
    con.execute(f"CREATE VIEW t AS SELECT * FROM read_parquet('{tgt}/{table}.parquet/*.parquet')")
    cols = [r[0] for r in con.execute("DESCRIBE s").fetchall()]
    regular = [c for c in cols if c not in (pk, ck)]
    on = f"s.{pk} = t.{pk}" + (f" AND s.{ck} = t.{ck}" if ck else "")
    same = " + ".join(f"(s.{c} IS NOT DISTINCT FROM t.{c})::BIGINT" for c in regular)
    row = con.execute(f"""
        WITH r AS (
          SELECT coalesce(s.{pk}, t.{pk}) AS k, s.{pk} IS NOT NULL AS ins,
                 t.{pk} IS NOT NULL AS int, {same} AS eq
          FROM s FULL OUTER JOIN t ON {on}),
        p AS (
          SELECT k, bool_or(ins) AS ps, bool_or(int) AS pt,
                 sum((ins AND int)::BIGINT) AS both_rows,
                 sum((ins <> int)::BIGINT) AS one_side_rows,
                 sum(CASE WHEN ins AND int THEN eq ELSE 0 END) AS mv,
                 sum(CASE WHEN ins AND int THEN {len(regular)} - eq ELSE 0 END) AS mmv,
                 sum((ins <> int OR (ins AND int AND eq < {len(regular)}))::BIGINT) AS fixes
          FROM r GROUP BY k)
        SELECT
          count(*) FILTER (WHERE ps AND pt AND one_side_rows = 0 AND mmv = 0),
          count(*) FILTER (WHERE ps AND pt AND (one_side_rows > 0 OR mmv > 0)),
          count(*) FILTER (WHERE NOT pt),
          count(*) FILTER (WHERE NOT ps),
          coalesce(sum(both_rows) FILTER (WHERE ps AND pt), 0),
          coalesce(sum(mv) FILTER (WHERE ps AND pt), 0),
          coalesce(sum(mmv) FILTER (WHERE ps AND pt), 0),
          sum(fixes)
        FROM p""").fetchone()
    return dict(zip(COUNTERS, map(int, row[:7]))), int(row[7])


class GeneratorTest(unittest.TestCase):
    """The generator at sf0.001 scale (1,500 partitions per table): the
    stats the benchmark expects, derived from the edit script alone,
    equal an independent DuckDB recount of the written tables."""

    def check(self, workload, seed):
        out, exp = generate(workload, seed, 1500)
        for table in KEYS:
            edits = exp["edits"][table]
            keys = [k for ks in edits.values() for k in ks]
            self.assertEqual(len(keys), len(set(keys)), f"{table}: edit classes overlap")
            if table == "orders":
                self.assertEqual(edits["drop_row"], [])
            else:
                self.assertTrue(all(edits[c] for c in edits), f"{table}: an edit class is empty")
            stats, fixes = recount(out / "source", out / "target", table)
            self.assertEqual(stats, exp["expected"][table], f"{workload} {table}")
            self.assertEqual(fixes, exp["repair_statements"][table], f"{workload} {table}")

    def test_divergent_repair(self):
        self.check("divergent_repair", 11)

    def test_nightly_rerun(self):
        self.check("nightly_rerun", 12)

    def test_same_seed_same_inputs(self):
        a, ea = generate("nightly_rerun", 13, 300)
        b = WORK / "nightly_rerun-13-copy"
        shutil.rmtree(b, ignore_errors=True)
        a.rename(b)
        a, eb = generate("nightly_rerun", 13, 300)
        self.assertEqual(ea, eb)
        con = duckdb.connect()
        for side in ("source", "target", "target_baseline"):
            q = "SELECT * FROM read_parquet('{}/lineitem.parquet/*.parquet') ORDER BY ALL"
            self.assertEqual(con.execute(q.format(a / side)).fetchall(),
                             con.execute(q.format(b / side)).fetchall(), side)


def bench(*args):
    p = subprocess.run([sys.executable, str(BENCH / "run.py"), *args],
                       cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    return p.returncode, json.loads(lines[-1]) if lines else None


class GateTest(unittest.TestCase):
    """The correctness gate inside a run: the unmodified engine passes,
    and a perturbed expectation makes the run fail."""

    ARGS = ("--workload", "divergent_repair", "--seed", "21", "--seconds", "1",
            "--trace", "0", "--partitions", "2000")

    def test_clean_run_is_correct(self):
        code, out = bench(*self.ARGS)
        self.assertEqual(code, 0)
        self.assertTrue(out["correct"])
        self.assertEqual(out["failed"], 0)
        self.assertGreaterEqual(out["attempted"], 1)
        self.assertEqual(set(out), {"correct", "attempted", "failed", "metrics"})
        spec = json.loads((ROOT / "BENCHMARK.json").read_text())
        self.assertEqual(set(out["metrics"]), {m["name"] for m in spec["end_to_end"]})
        self.assertLess(len(json.dumps(out)), 2000)

    def test_perturbed_expectation_fails(self):
        code, out = bench(*self.ARGS, "--perturb-expected")
        self.assertNotEqual(code, 0)
        self.assertFalse(out["correct"])
        self.assertEqual(out["failed"], out["attempted"])


class TraceTest(unittest.TestCase):
    """A traced run reports exactly the per-layer metrics."""

    def test_trace_reports_every_layer_metric(self):
        code, out = bench("--workload", "nightly_rerun", "--seed", "22", "--seconds", "1",
                          "--trace", "1", "--partitions", "2000")
        self.assertEqual(code, 0)
        self.assertTrue(out["correct"])
        spec = json.loads((ROOT / "BENCHMARK.json").read_text())
        self.assertEqual(set(out["metrics"]), {m["name"] for m in spec["per_layer"]})
        self.assertGreater(out["metrics"]["digest.s"]["value"], 0)
        self.assertGreater(out["metrics"]["resume.unchanged_bucket_frac"]["value"], 0)


class StandaloneTest(unittest.TestCase):
    """Without the engine's sources the benchmark fails without a result."""

    def test_benchmark_files_alone_fail(self):
        alone = WORK / "alone"
        shutil.rmtree(alone, ignore_errors=True)
        shutil.copytree(BENCH, alone / "perfbench",
                        ignore=shutil.ignore_patterns("__pycache__"))
        shutil.copy(ROOT / "BENCHMARK.json", alone)
        p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "divergent_repair",
                            "--seed", "1", "--seconds", "1", "--trace", "0"],
                           cwd=alone, capture_output=True, text=True, timeout=180)
        self.assertNotEqual(p.returncode, 0)
        self.assertEqual(p.stdout.strip(), "")


if __name__ == "__main__":
    unittest.main()
