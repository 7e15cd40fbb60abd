"""Mechanical rotation-staleness audit (VERDICT r8 "wrong" item 1).

The driver verifies only the FIRST 50 entries of ``queries()`` per
round, so a query with a green CORRECTNESS row from round N can have its
code rewritten in round N+3 and keep shipping under the stale verdict —
unless the builder remembers to put it in ``ROTATE_FRONT``. That list
was hand-curated; this test derives the must-refront set MECHANICALLY:

  1. map every registered query to its defining module file via
     ``fn.__module__``;
  2. find each query's NEWEST fully-green driver round from the
     ``CORRECTNESS_r*.json`` records, and the git commit that recorded
     that round (the driver's "round N: verdict/..." commit adds
     ``CORRECTNESS_r{N}.json``);
  3. a verified query is STALE iff its SOURCE SPAN — the ``@query``
     decorator (which embeds the oracle SQL) plus the function body,
     plus the span of every function of the same module it names,
     transitively (its oracle builder ``oracle=_f`` / ``oracle=_f()``
     and the shared helpers it builds through), extracted by ast from
     the ``plans/*.py`` texts at the record commit via ``git show``
     and looked up by function name, so a pure
     move between plan modules is not a change — differs from the span
     in the working tree now;
  4. assert every stale query is re-fronted (appears in
     ``ROTATE_FRONT``) so the next driver window re-verifies it.

Granularity is the function span, not the whole module file: touching
one query in a 30-query module must not force 30 refronts (the window
is 50 names). What the span can NOT see — drift in helpers of other
modules (``functions/``, ``registry.stabilize_rounds``,
``sources/tables``, a helper imported from another plan module) or
module-level constants interpolated into oracle f-strings — is covered
by the complementary guard: the local 205-query type-strict replica
(tests/run_full_oracle.py) re-executes EVERY query against its oracle
each closing sweep, so a helper regression fails there regardless of
rotation. If a span cannot be extracted on either side, the query is
conservatively treated as stale. Never-green queries need no entry —
the unverified-first ordering already puts them in the window.
"""

from __future__ import annotations

import ast
import inspect
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _git(*args: str, repo: str = REPO) -> str:
    return subprocess.run(
        ["git", *args],
        cwd=repo,
        capture_output=True,
        text=True,
        check=True,
    ).stdout


def _record_commit(rnd: int, repo: str = REPO) -> str | None:
    """The commit that added CORRECTNESS_r{rnd}.json (the driver's
    round-record commit); the code green in round ``rnd`` is the tree
    at that commit."""
    out = _git(
        "log",
        "--diff-filter=A",
        "--format=%H",
        "--",
        f"CORRECTNESS_r{rnd:02d}.json",
        repo=repo,
    ).split()
    return out[-1] if out else None


PLANS_DIR = "kafka_go_streamer_spark/plans"


def _spans_at(commit: str, repo: str = REPO) -> dict[str, str]:
    """function name -> span for every def in ``plans/*.py`` at
    ``commit``: a query's old span is found by its name wherever it was
    defined then, so a pure move between plan modules keeps its
    fingerprint (query function names are unique under ``plans/``)."""
    spans: dict[str, str] = {}
    listing = _git(
        "ls-tree", "--name-only", commit, f"{PLANS_DIR}/", repo=repo
    ).split()
    for path in sorted(p for p in listing if p.endswith(".py")):
        text = _git("show", f"{commit}:{path}", repo=repo)
        for name, span in _spans(text).items():
            spans.setdefault(name, span)
    return spans


def _defining_file(fn) -> str:
    mod = sys.modules.get(fn.__module__)
    path = inspect.getfile(mod if mod is not None else fn)
    return os.path.relpath(os.path.abspath(path), REPO)


def _free_names(node: ast.AST) -> set[str]:
    """Names ``node`` reads but never binds itself (a loop variable or
    a parameter that happens to share a module function's name is not
    a reference to that function)."""
    read, bound = set(), set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            (read if isinstance(n.ctx, ast.Load) else bound).add(n.id)
        elif isinstance(n, ast.arg):
            bound.add(n.arg)
    return read - bound


def _spans(module_text: str) -> dict[str, str]:
    """function name -> a semantic fingerprint of its ``def``
    INCLUDING its decorators (the ``@query(...)`` call carries the
    oracle SQL literal), followed by the fingerprints of every function
    of the same module it names, transitively (a named oracle builder
    ``oracle=_f`` / ``oracle=_f()``, a shared helper such as an edge
    frame or a PageRank step, and what those name in turn): each one
    the ast dump with docstrings stripped, so comment-, docstring-, and
    formatting-only edits do not force a refront. Empty if the text
    does not parse; the first def of a name wins."""
    try:
        tree = ast.parse(module_text)
    except SyntaxError:
        return {}
    own: dict[str, str] = {}
    names: dict[str, set[str]] = {}
    for node in ast.walk(tree):
        if (
            isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
            and node.name not in own
        ):
            names[node.name] = _free_names(node)
            for n in ast.walk(node):
                body = getattr(n, "body", None)
                if (
                    isinstance(body, list)
                    and body
                    and isinstance(body[0], ast.Expr)
                    and isinstance(body[0].value, ast.Constant)
                    and isinstance(body[0].value.value, str)
                ):
                    n.body = body[1:] or [ast.Pass()]
            own[node.name] = ast.dump(node, include_attributes=False)
    spans: dict[str, str] = {}
    for name in own:
        seen, todo = {name}, [name]
        while todo:
            for ref in names[todo.pop()] & own.keys() - seen:
                seen.add(ref)
                todo.append(ref)
        spans[name] = "\n".join(
            own[n] for n in [name, *sorted(seen - {name})]
        )
    return spans


def compute_stale(
    repo: str = REPO,
    defs: dict[str, tuple[str, str]] | None = None,
    newest: dict[str, int] | None = None,
) -> dict[str, str]:
    """name -> defining module, for every driver-verified query whose
    decorator+body source span changed after its newest green round's
    record commit. The old span is looked up by function name across
    ``plans/*.py`` at that commit, the new one in the working tree (a
    span found on neither side counts as stale).

    ``defs`` maps query name -> (function name, repo-relative defining
    file) and ``newest`` maps query name -> newest green round; both
    default to the registry and the ``CORRECTNESS_r*.json`` records."""
    if defs is None:
        from kafka_go_streamer_spark.plans import QUERIES

        defs = {
            name: (fn.__name__, _defining_file(fn))
            for name, fn in QUERIES.items()
        }
    if newest is None:
        from __spark_entry__ import newest_green_round

        newest = newest_green_round()
    commits: dict[int, str | None] = {}
    spans_then: dict[str, dict[str, str]] = {}
    spans_now: dict[str, dict[str, str]] = {}
    stale: dict[str, str] = {}
    for name, (func, f) in defs.items():
        rnd = newest.get(name)
        if rnd is None:
            continue  # never green: unverified-first ordering covers it
        if rnd not in commits:
            commits[rnd] = _record_commit(rnd, repo)
        commit = commits[rnd]
        if commit is None:
            continue  # record not in git history: nothing to diff
        if commit not in spans_then:
            spans_then[commit] = _spans_at(commit, repo)
        if f not in spans_now:
            spans_now[f] = _spans(open(os.path.join(repo, f)).read())
        then = spans_then[commit].get(func)
        now = spans_now[f].get(func)
        if then is None or now is None or then != now:
            stale[name] = f
    return stale


@pytest.fixture(scope="module")
def git_available():
    try:
        _git("rev-parse", "HEAD")
    except (OSError, subprocess.CalledProcessError):
        pytest.skip("git history unavailable")


_QUERY_SRC = '''
@query("q_one", oracle="SELECT 1 AS x")
def q_one(spark, sf_dir):
    """A query."""
    return spark.range(1)
'''


def _round_one_repo(tmp_path, files: dict[str, str]):
    """A scratch git repo whose one commit records round 1 with the
    given ``plans/`` module texts; returns the plans dir."""
    repo = str(tmp_path)
    plans = tmp_path / PLANS_DIR
    plans.mkdir(parents=True)
    for name, text in files.items():
        (plans / name).write_text(text)
    (tmp_path / "CORRECTNESS_r01.json").write_text("{}")
    _git("init", "-q", repo=repo)
    _git("add", "-A", repo=repo)
    _git(
        "-c", "user.name=t", "-c", "user.email=t@t",
        "commit", "-q", "-m", "round 1", repo=repo,
    )
    return plans


def test_pure_move_keeps_fingerprint_body_edit_does_not(
    git_available, tmp_path
):
    """In a scratch repo: a query green at a record commit and then
    moved to another plan module unchanged is not stale; the same move
    with a body edit is."""
    repo = str(tmp_path)
    plans = _round_one_repo(
        tmp_path, {"a.py": "X = 1\n" + _QUERY_SRC, "b.py": "Y = 2\n"}
    )

    (plans / "a.py").write_text("X = 1\n")
    (plans / "b.py").write_text("Y = 2\n" + _QUERY_SRC)
    defs = {"q_one": ("q_one", f"{PLANS_DIR}/b.py")}
    assert compute_stale(repo, defs, {"q_one": 1}) == {}

    (plans / "b.py").write_text(
        "Y = 2\n" + _QUERY_SRC.replace("range(1)", "range(2)")
    )
    assert compute_stale(repo, defs, {"q_one": 1}) == {
        "q_one": f"{PLANS_DIR}/b.py"
    }


_BUILT_SRC = '''
def _two_sql():
    return "SELECT 2 AS x"


def _three_sql():
    return "SELECT 3 AS x"


def _edges(spark):
    return spark.range(4)


def _degrees(spark):
    return _edges(spark).groupBy("id").count()


@query("q_two", oracle=_two_sql)
def q_two(spark, sf_dir):
    return spark.range(2)


@query("q_three", oracle=_three_sql())
def q_three(spark, sf_dir):
    return spark.range(3)


@query("q_deg", oracle="SELECT 1 AS x")
def q_deg(spark, sf_dir):
    return _degrees(spark)


@query("q_plain", oracle="SELECT 1 AS x")
def q_plain(spark, sf_dir):
    _edges = spark.range(1)
    return _edges
'''


def test_builder_or_helper_edit_marks_its_query_stale(
    git_available, tmp_path
):
    """In a scratch repo: editing only a query's named oracle builder
    (``oracle=_f`` or ``oracle=_f()``), or only a same-module helper it
    reaches through another helper, makes that query stale and no
    other (``q_plain`` binds a local of the helper's name); docstrings
    added everywhere change nothing."""
    repo = str(tmp_path)
    plans = _round_one_repo(tmp_path, {"a.py": _BUILT_SRC})
    path = f"{PLANS_DIR}/a.py"
    names = ("q_two", "q_three", "q_deg", "q_plain")
    defs = {n: (n, path) for n in names}
    newest = dict.fromkeys(names, 1)

    (plans / "a.py").write_text(
        _BUILT_SRC.replace("):\n    ", '):\n    """Doc."""\n    ')
    )
    assert compute_stale(repo, defs, newest) == {}

    for old, new, name in (
        ("SELECT 2", "SELECT 5", "q_two"),
        ("SELECT 3", "SELECT 5", "q_three"),
        ("range(4)", "range(5)", "q_deg"),
    ):
        (plans / "a.py").write_text(_BUILT_SRC.replace(old, new))
        assert compute_stale(repo, defs, newest) == {name: path}


#: Queries stale only through a helper edit made before helper spans
#: entered the fingerprint, and left out of ROTATE_FRONT because the
#: window holds 50 names: all thirteen reach ``semdedup._store_frames``,
#: whose ``ensure_ivf_index(emb, sf_dir, iters=2)`` lost an argument
#: equal to the value the store now always builds with. The full oracle
#: replica (tests/run_full_oracle.py) re-checks them every sweep. A name
#: leaves this set (the test below fails until it does) once it is no
#: longer stale; no name may join it.
WAITING_FOR_ROOM = frozenset({
    "semdedup_prune_manifest",
    "semdedup_prune_stats",
    "semdedup_eps_sweep",
    "semdedup_drop_bias",
    "cluster_assignment_margin",
    "cluster_balance_profile",
    "cluster_label_purity",
    "pipeline_semdedup_corpus",
    "semdedup_vs_minhash_agreement",
    "semdedup_centroid_shift",
    "cluster_source_mix",
    "semdedup_source_shift",
    "semdedup_retrieval_impact",
})


def test_rotate_front_covers_every_stale_query(git_available):
    """ROTATE_FRONT must be a superset of the mechanically-derived
    stale set (less ``WAITING_FOR_ROOM``, every name of which must
    still be stale): touching a plan module without re-fronting its
    green queries fails here, before the driver can ship changed code
    under an old verdict."""
    import __spark_entry__ as entry

    stale = compute_stale()
    assert WAITING_FOR_ROOM <= stale.keys(), (
        "no longer stale, drop from WAITING_FOR_ROOM: "
        f"{sorted(WAITING_FOR_ROOM - stale.keys())}"
    )
    assert len(entry.ROTATE_FRONT) <= 50
    missing = {
        n: f
        for n, f in stale.items()
        if n not in set(entry.ROTATE_FRONT) | WAITING_FOR_ROOM
    }
    assert not missing, (
        "queries whose defining module changed since their newest green "
        f"driver round but are not in ROTATE_FRONT: {missing} — add them "
        "to ROTATE_FRONT in __spark_entry__.py"
    )


def test_rotate_front_leads_the_window(git_available):
    """Everything in ROTATE_FRONT (that exists) must actually occupy the
    head of the driver's ordering — a refront that lands outside the
    verified-first partition would silently never re-verify."""
    import __spark_entry__ as entry

    names = entry._ordered_names()
    front = [n for n in entry.ROTATE_FRONT if n in names]
    assert names[: len(front)] == front
