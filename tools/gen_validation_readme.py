#!/usr/bin/env python3
"""Generate a validation-round README from the artifacts in the SAME dir.

Usage: gen_validation_readme.py <validation_dir> <round_label>

Every count in the README is grep'd from the committed checker outputs at
generation time — the r15 README hand-wrote "270 plan-audit / 266 oracle"
while its own artifacts said 280/276, and the prose numbers are the ones
people quote. A README this script wrote cannot drift from the data it
sits next to; re-run it whenever an artifact is refreshed.
"""
import os
import re
import sys

d = sys.argv[1]
rnd = sys.argv[2]


def read(name):
    p = os.path.join(d, name)
    return open(p, errors="replace").read() if os.path.exists(p) else None


def one(pattern, text, what):
    m = re.search(pattern, text)
    if not m:
        sys.exit(f"cannot extract {what} (pattern {pattern!r})")
    return m.group(1) if m.groups() else m.group(0)


lines = [f"# Round-{rnd} validation artifacts", "",
         "All produced at the round HEAD, in this order. EVERY count below",
         "was extracted from the artifact it describes by",
         "tools/gen_validation_readme.py at generation time — regenerate",
         "the README whenever an artifact is refreshed; never hand-edit",
         "the numbers.", ""]
step = 0


def item(text):
    global step
    step += 1
    lines.append(f"{step}. {text}")


t = read("sbt_test.txt")
if t:
    # anchor on scalatest's one summary line — a bare "failed N" regex
    # would match intentional-failure log noise from negative tests. A
    # canceled test (a missing optional fixture) is neither a pass nor a
    # failure, so it is reported on its own.
    m = re.search(r"Tests: succeeded (\d+), failed (\d+), canceled (\d+)", t)
    if not m:
        sys.exit("cannot extract scalatest summary line")
    suites = one(r"Suites: completed (\d+)", t, "suite count")
    item(f"`sbt_test.txt` — full suite: {m.group(1)} succeeded / "
         f"{m.group(2)} failed / {m.group(3)} canceled over {suites} "
         f"suites.")

for f, sf in (("planaudit_sf0001.txt", "sf0.001"),
              ("planaudit_sf001.txt", "sf0.01")):
    t = read(f)
    if t:
        clean = len(re.findall(r": clean$", t, re.M))
        total = len(re.findall(r"^AUDIT ", t, re.M))
        item(f"`{f}` — PlanAudit at {sf}: {clean} clean of {total} "
             f"declared queries.")

t = read("verify_dump.txt")
if t:
    item("`verify_dump.txt` — full COLD-cache Verify at sf0.01 (no "
         "graft-* build cache present: deleted first, or the JVM given a "
         "fresh empty java.io.tmpdir, so the streamed states and "
         "persisted indexes rebuilt inside the one Verify JVM — the "
         "driver's exact environment).")

t = read("oracle_check.txt")
if t:
    m = re.search(r"(\d+) pass, (\d+) fail\s*$", t)
    if not m:
        sys.exit("cannot extract oracle_check summary")
    item(f"`oracle_check.txt` — driver-faithful DuckDB compare: "
         f"{m.group(1)} pass, {m.group(2)} fail.")

t = read("oracle_typelint.txt")
if t:
    m = re.search(r"(\d+) clean, (\d+) flagged, (\d+) errors of (\d+)", t)
    if m:
        item(f"`oracle_typelint.txt` — {m.group(1)} clean, {m.group(2)} "
             f"flagged, {m.group(3)} errors of {m.group(4)} oracle entries.")

t = read("gate_check.txt")
if t:
    npass = len(re.findall(r"\bPASS\b", t))
    item(f"`gate_check.txt` — the no_oracle gate metrics recomputed "
         f"INDEPENDENTLY from the dumps (tools/gate_check.py): {npass} "
         f"PASS lines; `gates.json` copied alongside.")

t = read("perfbench_tests.txt")
if t:
    ran = one(r"Ran (\d+) tests?", t, "perfbench test count")
    m = re.search(r"^(OK.*|FAILED.*)$", t, re.M)
    item(f"`perfbench_tests.txt` — `python3 -m unittest discover -s "
         f"perfbench/tests`: {ran} tests, "
         f"{m.group(1) if m else 'no status line'}.")

t = read("public_callers.txt")
if t:
    keep = one(r"KEEP \((\d+) (?:public )?members", t,
               "public_callers KEEP count")
    uncalled = len(re.findall(r"^(UNCALLED|SPEC-ONLY|STALE KEEP) ", t, re.M))
    item(f"`public_callers.txt` — `tools/public_callers.py`: {keep} KEEP "
         f"entries with reasons, {uncalled} uncalled, spec-only or stale "
         f"public and `private[graft]` members.")

out = os.path.join(d, "README.md")
open(out, "w").write("\n".join(lines) + "\n")
print(f"wrote {out}")
print("\n".join(lines))
