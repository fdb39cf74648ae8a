"""The scripts stay runnable: they parse, none shadows a standard-library
module, what they import from the package exists, the keyword arguments
they pass to it are its parameters, and the docs name only scripts that
exist.  The last tests run ``scripts/profile_queries.py`` on three queries
in the shared session."""

import ast
import importlib
import importlib.util
import inspect
import pathlib
import re
import sys

import pytest

ROOT = pathlib.Path(__file__).resolve().parent.parent
SCRIPTS = sorted((ROOT / "scripts").glob("*.py"))
SF_DIR = "/root/testdata/sf0.001"


@pytest.mark.parametrize("path", SCRIPTS, ids=lambda p: p.name)
def test_script_parses_and_its_package_imports_exist(path):
    # a script's directory heads sys.path for every script in it, so a
    # stdlib name (say profile.py) would replace that module for all of
    # them (pyspark imports cProfile, which imports profile)
    assert path.stem not in sys.stdlib_module_names, f"{path.name} shadows the standard library"
    tree = ast.parse(path.read_text(), str(path))
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for alias in node.names:
                if alias.name.startswith("dftly_spark"):
                    importlib.import_module(alias.name)
        elif isinstance(node, ast.ImportFrom) and (node.module or "").startswith("dftly_spark"):
            mod = importlib.import_module(node.module)
            for alias in node.names:
                assert hasattr(mod, alias.name) or importlib.util.find_spec(
                    f"{node.module}.{alias.name}"
                ), f"{path.name}: {node.module} has no {alias.name}"


@pytest.mark.parametrize("path", SCRIPTS, ids=lambda p: p.name)
def test_script_keywords_are_package_parameters(path):
    # a keyword a function does not take raises TypeError only when the
    # script runs; probes run rarely, so check each call statically
    tree = ast.parse(path.read_text(), str(path))
    bound = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and (node.module or "").startswith("dftly_spark"):
            mod = importlib.import_module(node.module)
            for alias in node.names:
                if callable(getattr(mod, alias.name, None)):
                    bound[alias.asname or alias.name] = getattr(mod, alias.name)
    for node in ast.walk(tree):
        if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Name) and node.func.id in bound):
            continue
        params = inspect.signature(bound[node.func.id]).parameters
        if any(p.kind is inspect.Parameter.VAR_KEYWORD for p in params.values()):
            continue
        unknown = [k.arg for k in node.keywords if k.arg is not None and k.arg not in params]
        assert not unknown, f"{path.name}:{node.lineno}: {node.func.id}() takes no {unknown}"


@pytest.mark.parametrize("doc", ["README.md", ".claude/skills/verify/SKILL.md"])
def test_docs_name_existing_scripts(doc):
    named = set(re.findall(r"scripts/([\w.]+\.py)", (ROOT / doc).read_text()))
    assert named, f"{doc} names no script"
    assert named <= {p.name for p in SCRIPTS}, f"{doc} names missing {named - {p.name for p in SCRIPTS}}"


def _profile_script():
    spec = importlib.util.spec_from_file_location("profile_script", ROOT / "scripts/profile_queries.py")
    profile = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(profile)
    return profile


def test_profile_records_two_queries(spark, tmp_path):
    """``profile()`` in the shared session: one full record per query, a
    plan dump each, and every patch the tracer made is undone."""
    import py4j.clientserver
    import py4j.java_gateway

    import __spark_entry__ as entry
    from dftly_spark.parser import Parser

    profile = _profile_script()

    def patchable():
        bindings = {(m.__name__, "parse_str"): m.parse_str for m in list(sys.modules.values())
                    if getattr(m, "__name__", "").startswith("dftly_spark") and "parse_str" in m.__dict__}
        return {
            **bindings,
            ("Parser", "__call__"): Parser.__dict__["__call__"],
            ("Parser", "to_spark"): Parser.__dict__["to_spark"],
            ("JavaClient", "send_command"): py4j.clientserver.JavaClient.send_command,
            ("GatewayClient", "send_command"): py4j.java_gateway.GatewayClient.send_command,
        }

    before, metadata_len = patchable(), spark.conf.get("spark.sql.maxMetadataStringLength")
    names = ["q01_project_arith", "q13_ts_diff_totals"]
    recs = list(profile.profile(spark, SF_DIR, entry.queries(), names, 1, str(tmp_path), "0"))
    assert patchable() == before
    assert spark.conf.get("spark.sql.maxMetadataStringLength") == metadata_len
    assert [r["query"] for r in recs] == names
    keys = {
        "query", "reps_s", "min_s", "median_s",
        "strform_s", "parser_s", "nodes_s", "compile_s", "build_s", "build_py4j_calls",
        "pre_action_jobs", "pre_action_task_s", "analysis_ms", "optimization_ms", "planning_ms",
        "action_s", "action_jobs", "action_tasks", "action_run_s", "action_cpu_s",
        "shuffle_write_mb", "spill_mb", "failed_tasks",
        "n_exchange", "n_bcast_exchange", "n_bnl", "n_cartesian", "n_window", "n_codegen",
        "n_python", "scan_cols_max", "decisions",
    }
    for r in recs:
        assert set(r) == keys, r
        # the scans take their schema from the parquet footer: no job
        assert r["pre_action_jobs"] == 0 and r["action_jobs"] >= 1
        assert r["decisions"] == []
        assert r["n_python"] == 0 and r["scan_cols_max"] > 0 and r["n_codegen"] >= 1
        assert len(r["reps_s"]) == 1 and r["min_s"] == r["median_s"] == r["reps_s"][0]
        dump = (tmp_path / f"{r['query']}.txt").read_text()
        assert dump.startswith("# PYTHONHASHSEED=0\n") and "# execution 1\n" in dump


def test_profile_records_the_decisions(spark):
    """x46's record carries the pair-scorer and cell-scorer choices with
    the inputs that decided them; the session's logging is as it was."""
    import logging

    import __spark_entry__ as entry

    logger = logging.getLogger("dftly_spark")
    level, handlers = logger.level, list(logger.handlers)
    (rec,) = _profile_script().profile(spark, SF_DIR, entry.queries(), ["x46_semantic_dedup"], 0)
    assert (logger.level, logger.handlers) == (level, handlers)
    # 500 embeddings rows plus the copies' 500 before their filter
    assert (
        "semantic_dedup_pairs: fold pair scorer at 31250 estimated pairs "
        "(row bound 1000, 16 cells; arrow from 262144)"
    ) in rec["decisions"], rec
    assert any(": fold cell scorer at k=16 centroids" in d for d in rec["decisions"]), rec


# a formatted AQE plan: the final tree, then the initial one, then details
_DESCRIPTION = """== Physical Plan ==
AdaptiveSparkPlan (9)
+- == Final Plan ==
   * BroadcastHashJoin Inner BuildRight (5)
   :- * Project (2)
   :  +- ShuffleQueryStage (1)
   :     +- Exchange (3)
   +- BroadcastQueryStage (4)
      +- BroadcastExchange (6)
         +- ReusedExchange (7)
+- == Initial Plan ==
   SortMergeJoin Inner (8)
   :- Exchange (10)
   +- Exchange (11)


(3) Exchange
Arguments: hashpartitioning(k, 4)

(6) BroadcastExchange
Arguments: HashedRelationBroadcastMode
"""


def test_plan_shape_counts_final_trees_of_every_execution():
    profile = _profile_script()
    plain = "== Physical Plan ==\n* Project (2)\n+- Window (1)\n\n\n(1) Window\n"
    shape = profile.plan_shape("", [_DESCRIPTION, plain, _DESCRIPTION], "[codegen id : 1]")
    assert shape["n_exchange"] == 2 and shape["n_bcast_exchange"] == 2
    assert shape["n_window"] == 1 and shape["n_codegen"] == 1


def test_profile_counts_broadcasts_of_checkpointed_executions(spark):
    """x67's PageRank checkpoints its edge frame: the broadcast AQE picks in
    that earlier execution counts, though the action's plan has none."""
    import __spark_entry__ as entry

    profile = _profile_script()
    (rec,) = profile.profile(spark, SF_DIR, entry.queries(), ["x67_pagerank"], 0)
    assert rec["n_bcast_exchange"] >= 1 and rec["n_exchange"] >= 1, rec


def test_plan_dumps_strip_stage_and_codegen_ids():
    """Two fresh sessions number AQE query stages and codegen stages
    differently for one plan; a dump must not show it."""
    profile = _profile_script()

    def described(stage, codegen, expr):
        return (
            f"(1) Project [codegen id : {codegen}]\nOutput [1]: [id#{expr}L]\n\n"
            f"(2) ShuffleQueryStage\nOutput [1]: [id#{expr}L]\nArguments: {stage}\n\n"
            "(3) LocalLimit\nArguments: 16\n"
        )

    one, two = described(0, 1, 12), described(3, 4, 87)
    assert one != two
    assert profile.strip_plan_ids(one) == profile.strip_plan_ids(two)
    stripped = profile.strip_plan_ids(one)
    assert "Arguments: 16" in stripped and "#" not in stripped
