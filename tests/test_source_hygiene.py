"""Source hygiene: no invisible control characters in Python sources.

A literal \\x01 crept into a concat_ws separator once this round —
invisible in every editor view, it silently changed rolling-hash
boundaries until the DuckDB twin caught the divergence. This lint
makes that class structural: any C0 control character (except
tab/newline) in a tracked .py file fails, minus the explicit
allowlist of documented intentional uses.

The submission path gets the same treatment for Python-built frames:
a ``spark.createDataFrame(`` over a Python list is planned as an RDD
that starts Python workers when evaluated, so each call site on that
path is pinned below. Importing the pipeline must also leave the llmops
library unimported, so a submission's setup does not pay for it, and a
step loads only its own operator module. The driver roster must carry no
dead function and no round-layered registry. Tests are filed by the
module they test, and code says why, not in which round.
The message feed is built in one place: no other library module names a
message-only column. A step handler does more than forward its fields
to one library function: a step that only forwards is a binding row.
"""

from __future__ import annotations

import re
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

#: (path, count) — documented intentional control chars
ALLOWED = {
    # dedup key-part separator: joins md5 key parts unambiguously and
    # is documented in the docstring + replayed via chr(1) in oracles
    "data_validation_engine_spark/llmops/dedup.py": 1,
}

_CTL = re.compile(r"[\x00-\x08\x0b\x0c\x0e-\x1f]")


def test_no_stray_control_characters():
    bad = []
    for p in REPO.rglob("*.py"):
        rel = p.relative_to(REPO).as_posix()
        if ".git" in rel or rel.startswith((".claude/", "build/")):
            continue
        hits = _CTL.findall(p.read_text(encoding="utf-8"))
        allowed = ALLOWED.get(rel, 0)
        if len(hits) != allowed:
            bad.append((rel, len(hits), allowed, [hex(ord(c)) for c in hits[:5]]))
    assert not bad, f"stray control characters: {bad}"


def test_repo_compiles_with_warnings_as_errors():
    """Every repo source compiles under -W error (r11 verdict,
    Next-round #4): an invalid escape sequence is a DeprecationWarning
    today and a SyntaxError on a future Python — fail it now, at
    compile time, where the fix is a one-char raw-string prefix."""
    import py_compile
    import warnings

    bad = []
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        for p in REPO.rglob("*.py"):
            rel = p.relative_to(REPO).as_posix()
            if ".git" in rel or rel.startswith((".claude/", "build/", "spark-warehouse/")):
                continue
            try:
                py_compile.compile(str(p), doraise=True, quiet=2)
            except Exception as exc:  # noqa: BLE001 — collect all
                bad.append((rel, str(exc)[:160]))
    assert not bad, f"compile warnings/errors: {bad}"


#: (path, count) — ``spark.createDataFrame(`` call sites on the submission
#: path; every other file in SUBMISSION_PATH must have none
CREATE_DATAFRAME_ALLOWED = {
    # the literal submission messages as Arrow local relations (an early
    # exit's result.messages; the presence/XSD and processing-error rows
    # joining the tagged feed) and the dve_submission_info refdata frame
    # (evaluated only when a rule reads it)
    "data_validation_engine_spark/pipeline.py": 3,
    # reject_keys: a collected feed's rejection keys (an Arrow table, so a
    # local relation, not a Python-built frame)
    "data_validation_engine_spark/contract/apply.py": 1,
    # audit rows on the Delta / non-local path (local parquet appends are
    # written driver-side)
    "data_validation_engine_spark/sinks/audit.py": 1,
}

SUBMISSION_PATH = (
    "data_validation_engine_spark/pipeline.py",
    "data_validation_engine_spark/messages.py",
    "data_validation_engine_spark/contract/*.py",
    "data_validation_engine_spark/sinks/*.py",
)


def test_create_dataframe_call_sites_are_pinned():
    found = {}
    for pattern in SUBMISSION_PATH:
        for p in REPO.glob(pattern):
            rel = p.relative_to(REPO).as_posix()
            text = p.read_text(encoding="utf-8")
            found[rel] = text.count("spark.createDataFrame(")
    assert set(CREATE_DATAFRAME_ALLOWED) <= set(found)
    bad = {
        rel: (n, CREATE_DATAFRAME_ALLOWED.get(rel, 0))
        for rel, n in found.items()
        if n != CREATE_DATAFRAME_ALLOWED.get(rel, 0)
    }
    assert not bad, f"spark.createDataFrame( call sites (found, allowed): {bad}"


def test_pipeline_import_loads_no_llmops_module():
    """Importing the pipeline must not import the llmops operator library:
    the step engine resolves its bindings when a step runs, and an eager
    import here would add its cost to every submission's setup."""
    import subprocess
    import sys

    probe = (
        "import sys, data_validation_engine_spark.pipeline;"
        "print(sorted(m for m in sys.modules"
        " if m.startswith('data_validation_engine_spark.llmops')))"
    )
    out = subprocess.run(
        [sys.executable, "-c", probe],
        cwd=REPO, capture_output=True, text=True, check=True,
    )
    assert out.stdout.strip() == "[]"


def test_pipeline_import_loads_no_pandas_or_pyarrow():
    """The sinks import pandas and pyarrow where they read a collected
    feed, not at module level: loading them on import would add their
    cost to every submission's setup."""
    import subprocess
    import sys

    probe = (
        "import sys, data_validation_engine_spark.pipeline;"
        "print(sorted(m for m in ('pandas', 'pyarrow', 'pyarrow.parquet')"
        " if m in sys.modules))"
    )
    out = subprocess.run(
        [sys.executable, "-c", probe],
        cwd=REPO, capture_output=True, text=True, check=True,
    )
    assert out.stdout.strip() == "[]"


#: module-level names that mark a round-layered registry: aliases kept
#: for an older roster, retired-row lists, oracle merge passes, a second
#: tier of candidate rows (candidates are proven in their operator's test
#: file instead) and arms named for a round instead of their surface
_ROUND_LAYERED = re.compile(
    r"_v[23]$|_RETIRED|_r1[0-9]_oracles|_merge_oracles|^STAGED|^staged_"
    r"|^q_r1[0-9]_|^_R1[0-9]_"
)

#: what the driver exposes: the contract functions and the roster table
_DRIVER_ROOTS = {"entry", "queries", "oracle_sql", "ROSTER"}


def test_driver_has_no_dead_or_round_layered_code():
    """Every top-level function in ``__spark_entry__.py`` is reachable from
    the driver contract or its table, or is named by ``tests/`` or
    ``tools/``; and no module-level name marks a round-layered registry
    (a ``_v2`` alias, a retired-row list, an oracle merge pass, a
    ``STAGED`` table, a ``staged_*`` accessor or a round-named arm)."""
    import ast

    source = (REPO / "__spark_entry__.py").read_text(encoding="utf-8")
    tree = ast.parse(source)
    defs: dict[str, ast.AST] = {}
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
            defs[node.name] = node
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = (
                node.targets if isinstance(node, ast.Assign) else [node.target]
            )
            for t in targets:
                if isinstance(t, ast.Name):
                    defs[t.id] = node

    layered = sorted(n for n in defs if _ROUND_LAYERED.search(n))
    assert not layered, f"round-layered registry names: {layered}"

    this = Path(__file__).resolve()
    named = set()
    for p in [*REPO.glob("tests/*.py"), *REPO.glob("tools/*.py")]:
        if p.resolve() != this:
            named |= set(re.findall(r"\w+", p.read_text(encoding="utf-8")))

    def refs(node: ast.AST) -> set[str]:
        return {n.id for n in ast.walk(node) if isinstance(n, ast.Name)}

    seen: set[str] = set()
    todo = [n for n in defs if n in _DRIVER_ROOTS or n in named]
    while todo:
        name = todo.pop()
        if name not in seen:
            seen.add(name)
            todo += [r for r in refs(defs[name]) if r in defs]
    dead = sorted(
        n for n, node in defs.items()
        if isinstance(node, ast.FunctionDef) and n not in seen
    )
    assert not dead, f"unreachable driver functions: {dead}"


def test_bound_step_loads_only_its_llmops_module():
    """A bound step imports its function's module when it first runs
    (``Binding.function``); the rest of the operator library stays
    unimported. ``text_stats`` lives in ``text``, which uses ``dedup``'s
    tokenizer, which uses ``pairs``."""
    import subprocess
    import sys

    probe = (
        "import sys;"
        "from data_validation_engine_spark.steps import configs;"
        "from data_validation_engine_spark.steps.engine import BINDINGS;"
        "BINDINGS[configs.TextStats].function();"
        "print(sorted(m.rsplit('.', 1)[1] for m in sys.modules"
        " if m.startswith('data_validation_engine_spark.llmops.')))"
    )
    out = subprocess.run(
        [sys.executable, "-c", probe],
        cwd=REPO, capture_output=True, text=True, check=True,
    )
    assert out.stdout.strip() == "['dedup', 'pairs', 'text']"


def test_every_llmops_definition_imports_from_the_package():
    """Each public function or class defined in an ``llmops`` module is an
    attribute of the package, and no name is defined in two modules."""
    import importlib
    import inspect

    from data_validation_engine_spark import llmops

    defined: dict[str, object] = {}
    for path in sorted(Path(llmops.__file__).parent.glob("*.py")):
        if path.stem == "__init__":
            continue
        module = importlib.import_module(f"{llmops.__name__}.{path.stem}")
        assert getattr(llmops, path.stem) is module
        for name, obj in vars(module).items():
            if name.startswith("_") or not (
                inspect.isfunction(obj) or inspect.isclass(obj)
            ):
                continue
            if obj.__module__ == module.__name__:
                assert name not in defined, f"{name} defined twice"
                defined[name] = obj
    assert {n for n in defined if getattr(llmops, n) is not defined[n]} == set()
    assert set(llmops._definitions()) == set(defined)


#: round-named test files kept under their names so that the test ids they
#: hold keep running; their tests are not moved, and no file joins them
_ROUND_NAMED_TEST_FILES = {
    "test_advice_r12.py",
    "test_advice_r13.py",
    "test_opt_r13.py",
    "test_opt_r14.py",
    "test_review_fixes_r10.py",
    "test_round10_ops.py",
    "test_round11_ops.py",
    "test_round6_dischema.py",
    "test_round6b_ops.py",
    "test_round8_ops.py",
    "test_round8b.py",
    "test_round9.py",
    "test_round9b.py",
}


def test_no_new_test_file_is_named_for_a_round():
    """A new test goes in ``tests/test_<module>.py``, the file of the module
    it tests, never in a file named for the round that added it."""
    rounds = re.compile(r"round\d|_r1\d|advice|review_fixes")
    named = {
        p.name for p in (REPO / "tests").glob("test_*.py") if rounds.search(p.name)
    }
    assert named - _ROUND_NAMED_TEST_FILES == set()


#: round labels and round history; algorithm rounds (label propagation's
#: "round 1", BPE's "round-1 pair statistics", k-means rounds) do not match
_NARRATION = re.compile(r"\br1\d\b|OPTIMIZATION_r|[Rr]ound[- ]1\d|Next-round")


def _prose(source: str):
    """``(line, text)`` of every comment and docstring in ``source``;
    string literals that are data (SQL, fixture text) are not prose."""
    import ast
    import io
    import tokenize

    for node in ast.walk(ast.parse(source)):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef)):
            doc = ast.get_docstring(node, clean=False) or ""
            for i, text in enumerate(doc.splitlines()):
                yield node.body[0].lineno + i, text
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type == tokenize.COMMENT:
            yield tok.start[0], tok.string


def test_no_round_narration_in_code():
    """Comments and docstrings in the library, the driver, ``bench.py`` and
    ``tools/`` state reasons and invariants, not the round that made a
    change; that history is in CHANGES.md."""
    files = [
        *sorted((REPO / "data_validation_engine_spark").rglob("*.py")),
        REPO / "__spark_entry__.py",
        REPO / "bench.py",
        *sorted((REPO / "tools").glob("*.py")),
    ]
    hits = [
        f"{p.relative_to(REPO)}:{line}: {text.strip()}"
        for p in files
        for line, text in _prose(p.read_text(encoding="utf-8"))
        if _NARRATION.search(text)
    ]
    assert hits == [], "\n".join(hits)


def test_step_types_are_not_imported_by_name():
    """Step types are declared once, in ``steps/configs.py``: the package
    re-exports them through ``__getattr__`` and the engine reads them as
    ``configs.X``, so neither file keeps its own list of them."""
    import ast

    from data_validation_engine_spark.steps import configs

    bad = []
    for rel in (
        "data_validation_engine_spark/steps/__init__.py",
        "data_validation_engine_spark/steps/engine.py",
    ):
        for node in ast.walk(ast.parse((REPO / rel).read_text(encoding="utf-8"))):
            if not isinstance(node, ast.ImportFrom):
                continue
            if not (node.module or "").endswith("steps.configs"):
                continue
            bad += [
                (rel, alias.name)
                for alias in node.names
                if alias.name in ("*", "AnyStep")
                or isinstance(getattr(configs, alias.name, None), type)
            ]
    assert bad == []


#: message fields no feed but the message feed itself carries
_MESSAGE_ONLY_FIELDS = ("error_code", "error_location", "record_json")
_SQL_ALIAS = re.compile(
    r"\bAS\s+`?(" + "|".join(_MESSAGE_ONLY_FIELDS) + r")\b", re.IGNORECASE
)


def test_message_schema_is_projected_only_in_messages():
    """``messages.failure_messages`` is the one builder of the message
    feed: other modules hand it ``{field: Column}`` maps and never name a
    message-only column themselves, through ``.alias``, ``withColumn``,
    ``withColumnRenamed`` or a SQL ``AS``."""
    import ast

    bad = []
    for p in sorted((REPO / "data_validation_engine_spark").rglob("*.py")):
        rel = p.relative_to(REPO).as_posix()
        if rel == "data_validation_engine_spark/messages.py":
            continue
        for node in ast.walk(ast.parse(p.read_text(encoding="utf-8"))):
            if isinstance(node, ast.Constant) and isinstance(node.value, str):
                if _SQL_ALIAS.search(node.value):
                    bad.append((rel, node.lineno, node.value))
            if not (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("alias", "withColumn", "withColumnRenamed")
            ):
                continue
            named = node.args[-1 if node.func.attr == "withColumnRenamed" else 0]
            if isinstance(named, ast.Constant) and named.value in _MESSAGE_ONLY_FIELDS:
                bad.append((rel, node.lineno, named.value))
    assert bad == [], bad


#: names a forwarded argument may use: the config, the entities its
#: fields name, and the list/dict copies a binding also makes
_FORWARDED_NAMES = {"config", "entities", "list", "dict"}


def _forwards_only(method) -> bool:
    """The body is only imports, ``entities[config.output_name] = f(...)``
    with ``f`` imported there and every argument built from config fields
    alone, and ``return None``."""
    import ast

    body = method.body
    if isinstance(body[0], ast.Expr) and isinstance(body[0].value, ast.Constant):
        body = body[1:]
    imported = set()
    while body and isinstance(body[0], (ast.Import, ast.ImportFrom)):
        imported |= {a.asname or a.name for a in body[0].names}
        body = body[1:]
    if len(body) != 2:
        return False
    assign, ret = body
    if not (
        isinstance(ret, ast.Return)
        and (ret.value is None or ast.unparse(ret.value) == "None")
        and isinstance(assign, ast.Assign)
        and ast.unparse(assign.targets[0]) == "entities[config.output_name]"
        and isinstance(assign.value, ast.Call)
        and isinstance(assign.value.func, ast.Name)
        and assign.value.func.id in imported
    ):
        return False
    call = assign.value
    names = {
        node.id
        for arg in [*call.args, *(k.value for k in call.keywords)]
        for node in ast.walk(arg)
        if isinstance(node, ast.Name)
    }
    return names <= _FORWARDED_NAMES


def test_no_step_handler_only_forwards_its_fields():
    """A ``StepEngine`` handler that only passes config fields, or the
    entities they name, to one library function belongs in
    ``steps/engine.py:BINDINGS`` as a row: the engine keeps handlers only
    for the steps that orchestrate."""
    import ast

    tree = ast.parse(
        (REPO / "data_validation_engine_spark/steps/engine.py").read_text()
    )
    engine = next(
        node for node in tree.body
        if isinstance(node, ast.ClassDef) and node.name == "StepEngine"
    )
    forwarding = [
        method.name
        for method in engine.body
        if isinstance(method, ast.FunctionDef)
        and not method.name.startswith("_")
        and any(a.arg == "config" for a in method.args.kwonlyargs)
        and _forwards_only(method)
    ]
    assert forwarding == []
