#!/usr/bin/env python
"""Rotation hygiene: cross-check ``_CHANGED_THIS_ROUND`` against what
the git diff actually touched.

The driver verifies only the first WINDOW queries() entries per round,
and rule 1 of the rotation is the hand-maintained
``_CHANGED_THIS_ROUND`` list — which went stale in round 9 (code for 4
gates changed; none were queued).  This tool mechanizes the audit the
judge did by hand, at FUNCTION granularity:

1. changed files come from ``git diff <ref>`` (default ref: the last
   commit that touched a CORRECTNESS_r*.json — the round boundary);
   for every changed ``zdb_spark/*.py`` and ``__spark_entry__.py`` the
   unified-diff hunks are intersected with AST line ranges to get the
   set of CHANGED FUNCTIONS (top-level defs and class methods);
2. the changed set propagates through a name-reference graph (function
   f is affected if it references a changed function's name,
   transitively) — so a gate composing ``contamination_fuzzy`` is
   flagged when the ``minhash_lsh_pairs_vs`` it calls changes, without
   flagging every gate that merely imports the same module;
3. a gate is AFFECTED if its ``q_`` function (or an entry-local helper
   it calls) references an affected name;
4. the affected set is compared against ``_CHANGED_THIS_ROUND``;
   missing gates exit non-zero.  Gates with no CORRECTNESS history are
   exempt (rotation rule 2 auto-prioritizes them);
5. queued entries that took a green row in the newest
   ``CORRECTNESS_r*.json`` and that the diff since ``ref`` does not
   reach print as ``closable`` (default ref only): their change is
   verified, so the entry can leave the queue (otherwise it only grows).

Name-based propagation over-approximates on shared method names —
acceptable: a false "queue me" costs one window slot, a false "all
clear" costs an unverified behavior change (the r9 failure mode).
Under-approximation is possible only through dynamic dispatch or
oracle-SQL-literal edits; pair the tool with the commit convention,
don't replace it.

Usage: python tools/changed_gates.py [--ref REF] [--quiet]
"""

from __future__ import annotations

import argparse
import ast
import json
import os
import re
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

# Names too generic to propagate on: DataFrame/driver API collisions.
# `df` joined in r18: Table.df collides with the ubiquitous local
# DataFrame name, so one edit inside the manifest-read chain flagged
# ~140 gates whose only link was a `df = ...` local.  Like `scan`,
# the cost is that a REAL behavior change to Table.df/scan must be
# hand-audited into _CHANGED_THIS_ROUND (the r18 data-skipping round
# did exactly that for scan's pruning change).
_NOISE = {"write", "read", "open", "create", "count", "collect", "main",
          "get", "run", "close", "append", "scan", "df", "query",
          "entry", "queries", "oracle_sql"}


def _diff_lines(ref: str, path: str) -> set[int]:
    """New-side line numbers touched in ``path`` since ref (committed
    diff + worktree)."""
    lines: set[int] = set()
    diff = subprocess.run(["git", "diff", "-U0", ref, "--", path],
                          cwd=REPO, capture_output=True, text=True).stdout
    for m in re.finditer(r"^@@ -\d+(?:,\d+)? \+(\d+)(?:,(\d+))? @@",
                         diff, re.M):
        start, n = int(m.group(1)), int(m.group(2) or "1")
        lines.update(range(start, start + max(n, 1)))
    return lines


def _functions(path: str) -> dict[str, tuple[int, int, set[str]]]:
    """name -> (lineno, end_lineno, referenced names) for every
    top-level function and class method in ``path``.  References
    include bare names and attribute names (method calls)."""
    src = open(os.path.join(REPO, path), encoding="utf-8").read()
    tree = ast.parse(src)
    out: dict[str, tuple[int, int, set[str]]] = {}

    def add(node: ast.AST, name: str) -> None:
        refs: set[str] = set()
        for n in ast.walk(node):
            if isinstance(n, ast.Name):
                refs.add(n.id)
            elif isinstance(n, ast.Attribute):
                refs.add(n.attr)
        out[name] = (node.lineno, node.end_lineno or node.lineno, refs)

    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            add(node, node.name)
        elif isinstance(node, ast.ClassDef):
            for sub in node.body:
                if isinstance(sub, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    add(sub, sub.name)
    return out


def _behavior_sigs(src: str) -> dict[str, str]:
    """name -> ``ast.dump`` of each function with its docstring removed
    and no line/col attributes — two versions of a function compare
    equal here iff only docstrings/comments/formatting changed.  Rule 1
    queues BEHAVIOR-relevant changes; a docstring edit re-verifying a
    gate would burn a rotation slot a genuinely stale gate needs.

    A name defined MORE THAN ONCE in the file (same-named methods in
    two classes) is dropped from the output: bare-name keying would let
    the last definition shadow the first, and a behavior change in the
    shadowed one could compare equal and silently skip the rule-1
    queue.  Dropping the name disables the docstring-only exemption for
    it — the safe direction (re-verify, never under-verify)."""
    import copy

    out: dict[str, str] = {}
    seen_twice: set[str] = set()

    def sig(node: ast.AST) -> str:
        node = copy.deepcopy(node)
        body = node.body
        if (body and isinstance(body[0], ast.Expr)
                and isinstance(body[0].value, ast.Constant)
                and isinstance(body[0].value.value, str)):
            node.body = body[1:] or [ast.Pass()]
        return ast.dump(node, include_attributes=False)

    try:
        tree = ast.parse(src)
    except SyntaxError:
        return out

    def add(node: ast.AST) -> None:
        if node.name in out:
            seen_twice.add(node.name)
        out[node.name] = sig(node)

    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            add(node)
        elif isinstance(node, ast.ClassDef):
            for sub in node.body:
                if isinstance(sub, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    add(sub)
    for name in seen_twice:
        del out[name]
    return out


def _source_files() -> list[str]:
    files = ["__spark_entry__.py"]
    for root, _dirs, names in os.walk(os.path.join(REPO, "zdb_spark")):
        for f in names:
            if f.endswith(".py"):
                files.append(os.path.relpath(os.path.join(root, f), REPO))
    return files


def affected_gates(ref: str) -> tuple[dict[str, str], set[str], set[str]]:
    """(gate -> reason, queued, brand_new) for the diff since ``ref``."""
    import __spark_entry__ as entry

    changed_files = set(subprocess.run(
        ["git", "diff", "--name-only", ref], cwd=REPO,
        capture_output=True, text=True).stdout.split())

    fn_index: dict[str, dict] = {}          # path -> {fname: (a, b, refs)}
    for path in _source_files():
        fn_index[path] = _functions(path)

    # seed: functions whose line range intersects the diff AND whose
    # behavior AST (docstring-stripped, attribute-free) really changed
    # vs the ref — docstring-only edits are not rule-1 changes
    changed_fns: set[str] = set()
    for path, fns in fn_index.items():
        if path not in changed_files:
            continue
        touched = _diff_lines(ref, path)
        old = subprocess.run(["git", "show", f"{ref}:{path}"], cwd=REPO,
                             capture_output=True, text=True)
        old_sigs = _behavior_sigs(old.stdout) if old.returncode == 0 \
            else {}
        new_sigs = _behavior_sigs(
            open(os.path.join(REPO, path), encoding="utf-8").read())
        for name, (a, b, _refs) in fns.items():
            if not any(a <= ln <= b for ln in touched):
                continue
            if name in old_sigs and old_sigs[name] == new_sigs.get(name):
                continue               # docstring/comment-only edit
            changed_fns.add(name)

    # propagate through name references (across all files).  Same-named
    # functions in different files (e.g. `resample` in ohlcv.py AND
    # table.py) must UNION their reference sets — a dict-comprehension
    # overwrite would drop one file's refs from the graph and could
    # print a false "OK" for a gate reached only through the shadowed
    # copy (the exact silent-staleness failure this tool exists to
    # prevent).
    all_fns: dict[str, set] = {}
    for fns in fn_index.values():
        for name, (_a, _b, refs) in fns.items():
            all_fns.setdefault(name, set()).update(refs)
    frontier = set(changed_fns)
    while frontier:
        sig = frontier - _NOISE
        frontier = set()
        for name, refs in all_fns.items():
            if name not in changed_fns and refs & sig:
                changed_fns.add(name)
                frontier.add(name)

    gates = dict(entry._QUERY_DECLARATIONS)
    entry_fns = fn_index["__spark_entry__.py"]
    affected: dict[str, str] = {}
    sig = changed_fns - _NOISE
    for gate, fn in gates.items():
        fname = fn.__name__
        if fname in changed_fns:
            affected[gate] = fname if fname not in entry_fns else \
                f"{fname} (direct or via " + \
                (sorted(entry_fns[fname][2] & sig)[0]
                 if entry_fns[fname][2] & sig else "diff") + ")"

    queued = set(entry._CHANGED_THIS_ROUND)
    # a queued composite vouches for its _COVERS sub-gates when the
    # composite is ITSELF affected by this diff: the honesty contract
    # (tests/test_registry.py) pins that it executes the shared
    # operator, and its green row refreshes the sub-gate's age — so
    # queueing both burns two window slots on one code path.  Never
    # applies to a currently-red sub-gate: that one needs its own row.
    hist = entry._verification_history()
    for comp, subs in getattr(entry, "_COVERS", {}).items():
        if comp not in queued or comp not in affected:
            continue
        for sub in subs:
            h = hist.get(sub)
            red = h is not None and h[1] is not None and (
                h[0] is None or h[1] > h[0])
            if sub in affected and not red:
                queued.add(sub)
    first_round: dict[str, int] = {}
    max_round, max_file = 0, None
    for f in os.listdir(REPO):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", f)
        if not m:
            continue
        rnd = int(m.group(1))
        if rnd > max_round:
            max_round, max_file = rnd, f
        for g in json.load(open(os.path.join(REPO, f))):
            first_round[g] = min(first_round.get(g, rnd), rnd)
    brand_new = set(gates) - set(first_round)
    if max_file is not None:
        tracked = subprocess.run(
            ["git", "ls-files", "--", max_file], cwd=REPO,
            capture_output=True, text=True).stdout.strip()
        brand_new |= boundary_exempt(first_round, max_round,
                                     bool(tracked))
    return affected, queued, brand_new


def boundary_exempt(first_round: dict[str, int], max_round: int,
                    max_file_tracked: bool) -> set[str]:
    """Boundary stability (the round-10 handoff-red fix): the moment
    the driver WRITES CORRECTNESS_rN.json — before the round-boundary
    commit moves the diff base — every gate born this round gains a
    history row, loses the brand-new exemption, and its whole (pre-
    boundary, committed) implementation still sits in the diff →
    false MISSING, red suite exactly at handoff.  Exempt gates whose
    FIRST history row is in the newest correctness file while that
    file is still UNCOMMITTED (``git ls-files`` empty = boundary
    moment).  Once the boundary commit lands the file, the diff base
    catches up and the exemption switches itself off — so a gate born
    in round N and then CHANGED in round N+1 is flagged normally."""
    if max_file_tracked:
        return set()
    return {g for g, r in first_round.items() if r == max_round}


def closable(queued: list[str], affected: dict[str, str]) -> list[str]:
    """Queued gates green in the newest ``CORRECTNESS_r*.json`` whose
    code the diff since ``ref`` does not reach."""
    files = {int(m.group(1)): f for f in os.listdir(REPO)
             if (m := re.fullmatch(r"CORRECTNESS_r(\d+)\.json", f))}
    if not files:
        return []
    rows = json.load(open(os.path.join(REPO, files[max(files)])))
    return sorted(g for g in queued if g not in affected and all(
        rows.get(g, {}).get(k) for k in
        ("rows_match", "schema_match", "hash_match")))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--ref", default=None)
    ap.add_argument("--quiet", action="store_true")
    args = ap.parse_args()

    ref = args.ref
    if ref is None:
        ref = subprocess.run(
            ["git", "log", "-1", "--format=%H", "--",
             "CORRECTNESS_r*.json"],
            cwd=REPO, capture_output=True, text=True).stdout.strip() or "HEAD"

    affected, queued, brand_new = affected_gates(ref)
    import __spark_entry__ as entry
    exempt = dict(getattr(entry, "_CHANGED_BUT_LOCALLY_PROVEN", {}))
    missing = sorted(set(affected) - queued - brand_new - set(exempt))
    # "no diff since the green row" only holds against the default ref
    done = [] if args.ref else closable(entry._CHANGED_THIS_ROUND, affected)
    extra = sorted(queued - set(affected) - brand_new - set(done))

    if not args.quiet:
        print(f"diff base: {ref[:12]}")
        for g in sorted(affected):
            mark = ("queued" if g in queued
                    else "NEW (auto-rule-2)" if g in brand_new
                    else "exempt: " + exempt[g][:40] if g in exempt
                    else "MISSING")
            print(f"  {g:28s} <- {affected[g]:46s} [{mark}]")
        if extra:
            print(f"queued but not derivably affected (fine, e.g. "
                  f"oracle-SQL-only edits): {extra}")
        if done:
            print(f"closable (green in the newest CORRECTNESS_r*.json, "
                  f"no diff since): {done}")
    if missing:
        print(f"MISSING from _CHANGED_THIS_ROUND: {missing}",
              file=sys.stderr)
        return 1
    print("OK: every derivably-affected gate is queued or brand-new")
    return 0


if __name__ == "__main__":
    sys.exit(main())
