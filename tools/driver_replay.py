"""Registry hygiene against the round driver's committed CORRECTNESS rows.

Usage: python tools/driver_replay.py --names-without-driver-row
       python tools/driver_replay.py --stale

The first form reads every committed CORRECTNESS_r*.json, classifies
each row green / rows-only / ERRORED (the driver harness crashed on it —
a distinct failure class, not window overflow), and prints the
registered queries that still lack a driver-GREEN row — the mechanical
input for each round's _PRIORITY rotation (the driver samples only the
first 50 registry entries per round, so rounds must rotate the window
until the union of rounds covers the whole registry).

The second form cross-references git: a driver row is STALE-GREEN when
the query's defining operator module was committed AFTER the artifact
commit that recorded its latest green row — the row describes code that
no longer exists. Prints stale queries oldest-green first (the rotation
priority order), attributing each registry-defined wrapper to the
operator module its source calls into.

Neither form starts a Spark session. The oracle replay itself is
tools/strict_check.py.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def _row_green(row: dict) -> bool:
    """A driver row is GREEN iff it hash-matched (or, for no-oracle rows,
    never: those are the weaker rows-only record by design)."""
    if row.get("err"):
        return False
    if row.get("hash_match") is None:
        return False
    return bool(
        row.get("rows_match") and row.get("schema_match") and row.get("hash_match")
    )


def _driver_history() -> tuple[dict, dict, dict, list]:
    """(greens, rows_only, erred) per query name → [rounds], plus the
    artifact list. Erred rows (harness crash, err set and != no_oracle)
    are their own bucket — mistaking them for window overflow hid the
    round-5 canonicalizer crashes from the rotation plan. A query's
    CURRENT state is its newest round's bucket: callers must not report
    an old error when a later round recorded a clean row (the r6 verdict
    caught exactly that — pca_whiten printed "ERRORED r[5]" although r6
    had a clean rows-only record)."""
    greens: dict[str, list[int]] = {}
    rows_only: dict[str, list[int]] = {}
    erred: dict[str, list[int]] = {}
    artifacts = sorted(REPO.glob("CORRECTNESS_r*.json"))
    for art in artifacts:
        rnd = int(art.stem.split("_r")[1])
        for name, row in json.loads(art.read_text()).items():
            if _row_green(row):
                greens.setdefault(name, []).append(rnd)
            elif row.get("err") and row.get("err") != "no_oracle":
                erred.setdefault(name, []).append(rnd)
            else:
                rows_only.setdefault(name, []).append(rnd)
    return greens, rows_only, erred, artifacts


def _newest_round(name: str, *buckets: dict) -> int:
    """Newest round across the given history buckets for a name (0 if none)."""
    return max((max(b[name]) for b in buckets if name in b), default=0)


def names_without_driver_row() -> int:
    sys.path.insert(0, str(REPO))
    from etl_master_spark.plans.registry import ORACLES, QUERIES

    greens, rows_only, erred, artifacts = _driver_history()
    missing = [q for q in QUERIES if q not in greens]
    print(f"# registry: {len(QUERIES)} queries; artifacts: "
          f"{', '.join(a.name for a in artifacts)}")
    print(f"# driver-green: {len([q for q in QUERIES if q in greens])}")
    for q in missing:
        # Classify by the NEWEST record: an old crash is history, not
        # state, once a later round recorded a clean row.
        if q in erred and _newest_round(q, erred) >= _newest_round(q, rows_only):
            kind = f"sampled but ERRORED r{erred[q]}"
        elif q not in ORACLES:
            kind = "no-oracle (rows-only by design)"
        elif q in rows_only:
            kind = f"rows-only r{rows_only[q]}"
        else:
            kind = "never sampled"
        print(f"{q}\t{kind}")
    print(f"# {len(missing)} without a driver-green row")
    return 0


_MODULE_RE = None


def _query_module(fn) -> Path | None:
    """Defining operator module for a registered callable: the module it
    lives in, unless that is the registry itself — registry wrappers are
    attributed to the operator module their source calls into."""
    import inspect
    import re

    global _MODULE_RE
    try:
        src_file = Path(inspect.getsourcefile(fn) or "")
    except TypeError:
        return None
    if src_file.name != "registry.py":
        return src_file
    if _MODULE_RE is None:
        ops = [
            p.stem
            for d in ("operators", "model", "streaming", "sources")
            for p in (REPO / "etl_master_spark" / d).glob("*.py")
            if p.stem != "__init__"
        ]
        _MODULE_RE = re.compile(r"\b(" + "|".join(ops) + r")\.")
    try:
        src = inspect.getsource(fn)
    except (OSError, TypeError):
        return src_file
    m = _MODULE_RE.search(src)
    if not m:
        return src_file
    for d in ("operators", "model", "streaming", "sources"):
        cand = REPO / "etl_master_spark" / d / f"{m.group(1)}.py"
        if cand.exists():
            return cand
    return src_file


def _git_ct(path: Path) -> int:
    import subprocess

    out = subprocess.run(
        ["git", "-C", str(REPO), "log", "-1", "--format=%ct", "--", str(path)],
        capture_output=True, text=True, check=False,
    ).stdout.strip()
    if out:
        return int(out)
    # Untracked (e.g. a CORRECTNESS artifact the driver just wrote but has
    # not committed yet): fall back to the file's mtime. Returning 0 here
    # made every fresh green row look stale the moment the driver ran
    # (the r6 verdict's "--stale flags all 48 fresh rows" bug).
    try:
        return int(path.stat().st_mtime)
    except OSError:
        return 0


def _git_fn_ct(fn, src_file: Path) -> int | None:
    """Last-commit time of the FUNCTION's own line range (git log -L) —
    module-level timestamps mark every query in a 4,000-line module
    stale whenever anything in it moves. None when the range can't be
    resolved (lambdas, and ANY callable whose source file is not the
    attributed module: a registry wrapper's line numbers are registry.py
    coordinates, meaningless against the operator file it was attributed
    to); caller falls back to module level. Limitation: a query's ORACLE
    builder is a separate function, so an oracle-only edit shows up
    module-stale, not function-stale — the printout carries both tiers."""
    import inspect
    import subprocess

    try:
        if Path(inspect.getsourcefile(fn) or "") != src_file:
            return None
        lines, start = inspect.getsourcelines(fn)
    except (OSError, TypeError):
        return None
    if fn.__name__ == "<lambda>":
        return None
    end = start + len(lines) - 1
    out = subprocess.run(
        [
            "git", "-C", str(REPO), "log", "-1", "--format=%ct",
            f"-L{start},{end}:{src_file.relative_to(REPO)}",
        ],
        capture_output=True, text=True, check=False,
    ).stdout
    for tok in out.split():
        if tok.isdigit():
            return int(tok)
    return None


def stale_green() -> int:
    sys.path.insert(0, str(REPO))
    from etl_master_spark.plans.registry import QUERIES

    greens, _rows_only, erred, artifacts = _driver_history()
    art_ct = {int(a.stem.split("_r")[1]): _git_ct(a) for a in artifacts}
    module_ct: dict[Path, int] = {}
    fn_stale: list[tuple[int, str, str]] = []
    mod_stale: list[tuple[int, str, str]] = []
    for name, fn in QUERIES.items():
        if name not in greens:
            continue  # the no-row modes cover these
        last_green = max(greens[name])
        row_ct = art_ct.get(last_green, 0)
        mod = _query_module(fn)
        if mod is None:
            continue
        fn_ct = _git_fn_ct(fn, mod) if mod.name != "registry.py" else None
        if fn_ct is not None:
            if fn_ct > row_ct:
                fn_stale.append((last_green, name, mod.name))
            continue
        if mod not in module_ct:
            module_ct[mod] = _git_ct(mod)
        if module_ct[mod] > row_ct:
            mod_stale.append((last_green, name, mod.name))
    print(
        f"# of {len(greens)} green: {len(fn_stale)} FUNCTION-stale (the "
        f"query's own body committed after its row) + {len(mod_stale)} "
        f"module-stale (wrapper-registered; containing module moved), "
        f"oldest green first"
    )
    for last_green, name, mod_name in sorted(fn_stale):
        print(f"{name}\tgreen r{last_green:02d}\tFN {mod_name}")
    for last_green, name, mod_name in sorted(mod_stale):
        print(f"{name}\tgreen r{last_green:02d}\tMOD {mod_name}")
    for name, rounds in sorted(erred.items()):
        # A later green OR clean rows-only record supersedes old errors.
        if name not in greens and max(rounds) >= _newest_round(name, _rows_only):
            print(f"{name}\tERRORED r{rounds} — needs a processable face")
    return 0


if __name__ == "__main__":
    if "--names-without-driver-row" in sys.argv:
        sys.exit(names_without_driver_row())
    if "--stale" in sys.argv:
        sys.exit(stale_green())
    sys.exit("usage: python tools/driver_replay.py --names-without-driver-row | --stale")
