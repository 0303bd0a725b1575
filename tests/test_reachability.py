"""Every top-level function and class of the library is reached from
outside tests/: from the library itself, the driver contract
(__spark_entry__.py), bench.py, scripts/ or perfbench/. A name counts
only where it appears in code outside its own body, and inside the
library only in a definition that is itself reached; docstrings,
comments and imports that bind the name unused do not count.

The exceptions are KEEP, each with its reason: a test oracle or
single-doc twin names the test that compares against it, and a source
or training function names the COVERAGE.md row that maps it to a
langid.py capability (SURVEY.md). Anything else that only its own tests
call is scope creep: delete it with its tests and doc rows, or give it
a caller."""

import ast
import io
import re
import tokenize
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
LIB = ROOT / "langid_py_spark"

KEEP = {
    # oracles and single-doc twins: the test that compares against them
    "count_features_naive": "test_scanner.py::test_dfa_equals_naive_property",
    "walk_states_single": "test_scanner.py::test_walk_single_matches_batch",
    "_shingle_hashes": "test_dedup.py::test_batch_matches_single_doc",
    "py_tf_vector": "test_embedding.py::test_batch_kernel_equals_naive_twin",
    "_doc_stats": "test_operators.py::test_repetition_batch_kernel_bit_identical",
    "leakage_safe_split_oracle_sql": "test_sampling.py::test_leakage_safe_split_oracle_parity_duckdb",
    "python_rule_oracle": "test_rules_scrub.py::test_spark_equals_python_oracle",
    "python_scrub_oracle": "test_rules_scrub.py::test_spark_equals_python_oracle",
    "conversation_vote_unsalted": "test_vote.py::test_salted_equals_unsalted",
    # COVERAGE.md rows that map a langid.py capability
    "read_file_docs": "S1",
    "read_line_docs": "S2",
    "read_url_docs": "S4",
    "run_stream_to_parquet": "S5",
    "read_corpus_tree": "S6",
    "train_nb_on_spark": "A4",
}


def _code_words(path: Path) -> list[set[str]]:
    """The identifier-like words of each source line, with comments and
    docstrings blanked out. A name an import statement binds under its
    own name is not a mention there: only its uses count, so a name
    imported and never used (a dead re-export) reaches nothing."""
    src = path.read_text(encoding="utf-8")
    lines = src.splitlines()
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type == tokenize.COMMENT:
            row, col = tok.start
            lines[row - 1] = lines[row - 1][:col]
    imported = defaultdict(set)  # row -> names bound there by an import
    for node in ast.walk(ast.parse(src)):
        if isinstance(
            node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
        ) and ast.get_docstring(node, clean=False) is not None:
            doc = node.body[0]
            for row in range(doc.lineno, doc.end_lineno + 1):
                lines[row - 1] = ""
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            for row in range(node.lineno, node.end_lineno + 1):
                imported[row] |= {a.name for a in node.names if a.asname is None}
    return [
        set(re.findall(r"\w+", line)) - imported[row]
        for row, line in enumerate(lines, 1)
    ]


def _caller_files() -> list[Path]:
    bench = [p for p in (ROOT / "perfbench").rglob("*.py") if "tests" not in p.parts]
    return [
        *LIB.rglob("*.py"),
        ROOT / "__spark_entry__.py",
        ROOT / "bench.py",
        *(ROOT / "scripts").rglob("*.py"),
        *bench,
    ]


def _definitions():
    """(path, name, first line, last line) of each top-level def/class."""
    for path in sorted(LIB.rglob("*.py")):
        for node in ast.parse(path.read_text(encoding="utf-8")).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                lo = min([node.lineno] + [d.lineno for d in node.decorator_list])
                yield path, node.name, lo, node.end_lineno


def unreached() -> dict[str, str]:
    """name -> module of each library definition that nothing reaches.
    A definition is reached when its name is mentioned in code outside
    every library definition (module-level code, or a caller file other
    than the library), or in the body of another definition that is
    reached or on KEEP. So a helper only a dead function calls, and
    dead functions that only call each other, stay unreached."""
    defs = list(_definitions())
    spans = defaultdict(list)  # path -> [(first line, last line, name)]
    for path, name, lo, hi in defs:
        spans[path].append((lo, hi, name))
    callers = defaultdict(set)  # word -> definitions mentioning it (None: none)
    for path in _caller_files():
        for row, words in enumerate(_code_words(path), 1):
            owner = next((n for lo, hi, n in spans[path] if lo <= row <= hi), None)
            for w in words:
                callers[w].add(owner)
    reached: set[str] = set()
    while True:
        live = reached | set(KEEP) | {None}
        now = {
            name
            for _, name, _, _ in defs
            if any(c in live and c != name for c in callers[name])
        }
        if now == reached:
            break
        reached = now
    return {
        name: str(path.relative_to(ROOT))
        for path, name, _, _ in defs
        if name not in reached
    }


def test_every_library_definition_is_reached():
    missing = {n: m for n, m in unreached().items() if n not in KEEP}
    assert not missing, f"reached only from tests/ (delete, or KEEP with a reason): {missing}"


def test_keep_reasons_hold():
    """Each KEEP entry is still defined, still needs the exception, and
    its reason is real: the named test calls it, or the named COVERAGE
    row lists it."""
    assert set(KEEP) <= set(unreached()), set(KEEP) - set(unreached())
    coverage = (ROOT / "COVERAGE.md").read_text(encoding="utf-8").splitlines()
    for name, reason in KEEP.items():
        if "::" in reason:
            fname, test = reason.split("::")
            tree = ast.parse((ROOT / "tests" / fname).read_text(encoding="utf-8"))
            body = next(
                n for n in tree.body if isinstance(n, ast.FunctionDef) and n.name == test
            )
            assert name in {
                getattr(n, "id", getattr(n, "attr", None)) for n in ast.walk(body)
            }, (name, reason)
        else:
            rows = [ln for ln in coverage if ln.startswith(f"| {reason} ")]
            assert rows and re.search(rf"\b{name}\b", rows[0]), (name, reason)
