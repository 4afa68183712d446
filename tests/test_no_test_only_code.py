"""Program code has a caller outside the tests.

Every top-level function, class and assigned name of the package must be
named somewhere outside ``tests/``: by the package itself, the scripts, the
benchmark or the root entry points. A definition that only tests reach
either moves into the test that uses it or goes; the allowlist holds the
two public names kept for users of the package rather than for its own
code paths.
"""

import ast
import os
import re
from collections import Counter

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(ROOT, "kafka_cdc_hudi_spark")

#: ``HudiKeyedTable``: the documented escape hatch to a real Hudi sink;
#: ``encode_wav_adpcm``: the fixture encoder of the ADPCM decoder
ALLOWED = {"HudiKeyedTable", "encode_wav_adpcm"}


def _sources(top: str, skip=()):
    for d, dirs, names in os.walk(top):
        dirs[:] = [x for x in dirs if not x.startswith((".", "__")) and x not in skip]
        for n in names:
            if n.endswith(".py"):
                path = os.path.join(d, n)
                with open(path, encoding="utf-8") as f:
                    text = f.read()
                yield path, text, ast.parse(text, path)


def _defined(tree: ast.Module) -> list[str]:
    out = []
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            out.append(node.name)
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            out.extend(t.id for t in targets if isinstance(t, ast.Name))
    return [n for n in out if not (n.startswith("__") and n.endswith("__"))]


def _words(text: str) -> Counter:
    return Counter(re.findall(r"\w+", text))


def test_every_program_definition_is_named_outside_tests():
    defined, definitions = {}, Counter()
    for path, text, tree in _sources(PACKAGE):
        for name in _defined(tree):
            defined.setdefault(name, os.path.relpath(path, ROOT))
            definitions[name] += 1
    words = Counter()
    for _path, text, _tree in _sources(ROOT, skip={"tests", "spark-warehouse"}):
        words += _words(text)
    # a definition's own line names it once; any further mention (code,
    # docstring, SQL text, a registry string) outside the tests counts
    test_only = {
        n: p for n, p in defined.items() if words[n] <= definitions[n] and n not in ALLOWED
    }
    assert not test_only, f"defined in the package, named only by tests: {sorted(test_only.items())}"
    assert ALLOWED <= set(defined), "an allowlisted name no longer exists: drop it from ALLOWED"
