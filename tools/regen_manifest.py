"""Refresh verification_manifest.json (see verification.py for the design).

Usage:
    python tools/regen_manifest.py r08            # during round 8 builds
    python tools/regen_manifest.py r08 --promote  # after CORRECTNESS_r08.json

Build mode: for every query whose current sha mismatches its manifest entry,
update the entry to {sha: current, evidence: window-<round>} IF the query is
inside the driver's 50-slot window or the pending queue; otherwise exit
nonzero listing the queries the builder must add to _VERIFY_FIRST (or queue).

Promote mode: convert "window-rNN" evidence to "rNN" for queries holding a
green row in CORRECTNESS_rNN.json whose sha is unchanged — run at the start
of the NEXT round, before editing anything.

Rehash mode (--rehash): recompute every entry's sha after a change to the
fingerprint ALGORITHM itself (verification.py). A window-rNN entry keeps
its tag. A green entry (evidence rNN) keeps its tag only if
`git diff <commit measured for CORRECTNESS_rNN.json> -- <closure>` is
empty for its whole import closure, i.e. nothing the new fingerprint
covers changed since that green row; otherwise it becomes window-<round>
and must be in the window or the pending queue (else exit nonzero listing
it). The commit measured for CORRECTNESS_rNN.json is the parent of the
commit that added the file (the end-of-round snapshot the driver ran).
"""

from __future__ import annotations

import inspect
import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from redpanda_iceberg_duckdb_spark.verification import (  # noqa: E402
    current_shas, import_closure, load_manifest, save_manifest)

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _git(*args: str) -> subprocess.CompletedProcess:
    return subprocess.run(["git", *args], cwd=_ROOT, capture_output=True,
                          text=True)


def _closure_unchanged_since(q, tag: str) -> bool:
    """True if no file in q's import closure differs between the tree the
    green row ``tag`` (rNN) was measured on and the working tree."""
    added = _git("log", "--diff-filter=A", "--format=%H", "-1", "--",
                 f"CORRECTNESS_{tag}.json").stdout.strip()
    if not added:
        return False
    files = [os.path.relpath(sys.modules[m].__file__, _ROOT)
             for m in import_closure(inspect.getmodule(q.fn).__name__)]
    return _git("diff", "--quiet", f"{added}^", "--", *files).returncode == 0


def main() -> int:
    rnd = sys.argv[1] if len(sys.argv) > 1 else None
    promote = "--promote" in sys.argv
    if not rnd or not rnd.startswith("r") or not rnd[1:].isdigit():
        print(__doc__)
        return 2
    # Zero-pad so evidence tags stay machine-comparable with CORRECTNESS_rNN
    # file names ("r9" and "r09" forked in round 9 — normalize at the door).
    rnd = f"r{int(rnd[1:]):02d}"

    import __spark_entry__ as entry_mod

    manifest = load_manifest()
    shas = current_shas()
    names = list(entry_mod.queries())
    window = set(names[:50])
    pending = set(entry_mod._PENDING_NEXT_WINDOW)

    if "--rehash" in sys.argv:
        from redpanda_iceberg_duckdb_spark.registry import all_queries
        qs = all_queries()
        n_re, requeued, blocked = 0, [], []
        for n, e in manifest.items():
            if n not in shas or e.get("sha") == shas[n]:
                continue
            ev = e.get("evidence", "")
            if (ev.startswith("r") and ev[1:].isdigit()
                    and not _closure_unchanged_since(qs[n], ev)):
                if n not in window and n not in pending:
                    blocked.append(n)
                    continue
                e["evidence"] = f"window-{rnd}"
                requeued.append(n)
            e["sha"] = shas[n]
            n_re += 1
        if blocked:
            print("ERROR: green evidence voided by a closure change, outside "
                  "the verify window and pending queue — add them to "
                  "_PENDING_NEXT_WINDOW first:")
            for n in sorted(blocked):
                print("  ", n)
            return 1
        save_manifest(manifest)
        print(f"rehashed {n_re} entries; {len(requeued)} green entries "
              f"re-queued as window-{rnd}: {sorted(requeued)}")
        return 0

    if promote:
        path = os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), f"CORRECTNESS_{rnd}.json")
        with open(path) as f:
            rows = json.load(f)
        greens = {n for n, v in rows.items()
                  if not v.get("err") and v.get("rows_match")
                  and v.get("schema_match") and v.get("hash_match")}
        def _older(tag: str) -> bool:
            # window-rMM refreshes only for MM <= NN: a window tag from a
            # LATER round means the code changed after this CORRECTNESS
            # file was recorded — its green row does not cover the current
            # sha even though the sha comparison passes (both sides are
            # the post-change sha). rNN refreshes if older than rnd.
            if tag.startswith("window-r"):
                suf = tag[len("window-r"):]
                if not suf.isdigit():
                    print(f"warning: unparseable evidence tag {tag!r} — "
                          "treating as refreshable")
                    return True
                return int(suf) <= int(rnd[1:])
            if not (tag.startswith("r") and tag[1:].isdigit()):
                # Absent or malformed tags (the 'window-' fallback default)
                # must be promotable, or the miss is silent forever.
                print(f"warning: unparseable evidence tag {tag!r} — "
                      "treating as refreshable")
                return True
            return int(tag[1:]) < int(rnd[1:])

        n_prom = 0
        for n, e in manifest.items():
            # ANY unchanged-sha query with a green row this round gets the
            # fresher evidence tag — not only window-* entries. (Rotation
            # slots used to re-verify old-evidence queries without the
            # manifest recording it; round-14 fix.)
            if (n in greens and shas.get(n) == e["sha"]
                    and _older(e.get("evidence", "window-"))):
                e["evidence"] = rnd
                n_prom += 1
        save_manifest(manifest)
        print(f"promoted {n_prom} entries to evidence={rnd}")
        return 0

    blocked = []
    refreshed = []
    for n, sha in shas.items():
        if manifest.get(n, {}).get("sha") == sha:
            continue
        if n in window or n in pending:
            manifest[n] = {"sha": sha, "evidence": f"window-{rnd}"}
            refreshed.append(n)
        else:
            blocked.append(n)
    if blocked:
        print("ERROR: changed/new queries outside the verify window and "
              "pending queue — add them to _VERIFY_FIRST or "
              "_PENDING_NEXT_WINDOW first:")
        for n in sorted(blocked):
            print("  ", n)
        return 1
    save_manifest(manifest)
    print(f"refreshed {len(refreshed)} entries -> evidence=window-{rnd}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
