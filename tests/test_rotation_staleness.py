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
     extracted by ast from the module text at the record commit via
     ``git show`` — differs from the span in the working tree now;
  4. assert every stale query is re-fronted (appears in
     ``ROTATE_FRONT``) so the next driver window re-verifies it.

Granularity is the function span, not the whole module file: touching
one query in a 30-query module must not force 30 refronts (the window
is 50 names). What the span can NOT see — drift in shared helpers
(``functions/``, ``registry.stabilize_rounds``, ``sources/tables``) or
module-level constants interpolated into oracle f-strings — is covered
by the complementary guard: the local 205-query type-strict replica
(tests/run_full_oracle.py) re-executes EVERY query against its oracle
each closing sweep, so a helper regression fails there regardless of
rotation. If span extraction fails for a changed module, the query is
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


def _git(*args: str) -> str:
    return subprocess.run(
        ["git", *args],
        cwd=REPO,
        capture_output=True,
        text=True,
        check=True,
    ).stdout


def _record_commit(rnd: int) -> str | None:
    """The commit that added CORRECTNESS_r{rnd}.json (the driver's
    round-record commit); the code green in round ``rnd`` is the tree
    at that commit."""
    out = _git(
        "log",
        "--diff-filter=A",
        "--format=%H",
        "--",
        f"CORRECTNESS_r{rnd:02d}.json",
    ).split()
    return out[-1] if out else None


def _changed_since(commit: str) -> set[str]:
    """Repo-relative paths touched after ``commit`` (committed or dirty)."""
    changed = set(_git("diff", "--name-only", f"{commit}..HEAD").split())
    changed |= {
        line[3:].split(" -> ")[-1]
        for line in _git("status", "--porcelain").splitlines()
        if len(line) > 3
    }
    return changed


def _defining_file(fn) -> str:
    mod = sys.modules.get(fn.__module__)
    path = inspect.getfile(mod if mod is not None else fn)
    return os.path.relpath(os.path.abspath(path), REPO)


def _query_span(module_text: str, func_name: str) -> str | None:
    """A semantic fingerprint of ``def func_name`` INCLUDING its
    decorators (the ``@query(...)`` call carries the oracle SQL
    literal): the ast dump with docstrings stripped, so comment-,
    docstring-, and formatting-only edits do not force a refront.
    None if the def is not found / the text does not parse."""
    try:
        tree = ast.parse(module_text)
    except SyntaxError:
        return None
    for node in ast.walk(tree):
        if (
            isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
            and node.name == func_name
        ):
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
            return ast.dump(node, include_attributes=False)
    return None


def compute_stale() -> dict[str, str]:
    """name -> defining module, for every driver-verified query whose
    decorator+body source span changed after its newest green round's
    record commit (falling back to file-touch staleness when the span
    cannot be extracted on either side)."""
    from __spark_entry__ import newest_green_round
    from kafka_go_streamer_spark.plans import QUERIES

    newest = newest_green_round()
    commits: dict[int, str | None] = {}
    changed: dict[int, set[str]] = {}
    old_text: dict[tuple[int, str], str | None] = {}
    stale: dict[str, str] = {}
    for name, fn in QUERIES.items():
        rnd = newest.get(name)
        if rnd is None:
            continue  # never green: unverified-first ordering covers it
        if rnd not in commits:
            commits[rnd] = _record_commit(rnd)
            changed[rnd] = (
                _changed_since(commits[rnd]) if commits[rnd] else set()
            )
        commit = commits[rnd]
        if commit is None:
            continue  # record not in git history: nothing to diff
        f = _defining_file(fn)
        if f not in changed[rnd]:
            continue  # module untouched since the green verdict
        key = (rnd, f)
        if key not in old_text:
            try:
                old_text[key] = _git("show", f"{commit}:{f}")
            except subprocess.CalledProcessError:
                old_text[key] = None  # module did not exist then
        then = old_text[key]
        now = open(os.path.join(REPO, f)).read()
        span_then = _query_span(then, fn.__name__) if then else None
        span_now = _query_span(now, fn.__name__)
        if span_then is None or span_now is None or span_then != span_now:
            stale[name] = f
    return stale


@pytest.fixture(scope="module")
def git_available():
    try:
        _git("rev-parse", "HEAD")
    except (OSError, subprocess.CalledProcessError):
        pytest.skip("git history unavailable")


def test_rotate_front_covers_every_stale_query(git_available):
    """ROTATE_FRONT must be a superset of the mechanically-derived
    stale set: touching a plan module without re-fronting its green
    queries fails here, before the driver can ship changed code under
    an old verdict."""
    import __spark_entry__ as entry

    stale = compute_stale()
    missing = {
        n: f for n, f in stale.items() if n not in set(entry.ROTATE_FRONT)
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
