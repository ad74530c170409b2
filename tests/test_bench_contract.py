"""The tools surface that the scaling record in bench.py relies on.

bench.py imports its chain selection and gate thresholds from tools/ and
reaches the gate probes through ``run_chain``, which launches them as
scripts. A deletion under tools/ that breaks either would only show as a
failed ``python bench.py``. These checks need no Spark session."""
import ast
import importlib
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _tree(rel):
    with open(os.path.join(REPO, rel)) as fh:
        return ast.parse(fh.read(), rel)


def test_bench_tools_imports_resolve():
    wanted = {
        (node.module, alias.name)
        for node in ast.walk(_tree("bench.py"))
        if isinstance(node, ast.ImportFrom)
        and (node.module or "").startswith("tools.")
        for alias in node.names
    }
    assert wanted, "bench.py imports nothing from tools/"
    for mod, name in sorted(wanted):
        assert hasattr(importlib.import_module(mod), name), f"{mod}.{name}"


def test_run_chain_launched_scripts_exist():
    # every os.path.join(REPO, "tools", "<script>.py") in run_chain
    scripts = {
        node.args[2].value
        for node in ast.walk(_tree("tools/run_chain.py"))
        if isinstance(node, ast.Call)
        and ast.unparse(node.func) == "os.path.join"
        and len(node.args) == 3
        and all(isinstance(a, ast.Constant) for a in node.args[1:])
        and node.args[1].value == "tools"
    }
    assert scripts >= {
        "canary.py", "co_canary.py", "io_probe.py", "psi_probe.py",
        "scaling_run.py",
    }
    for script in sorted(scripts):
        assert os.path.isfile(os.path.join(REPO, "tools", script)), script
