"""Plan fingerprints: one sha1 per registry query of its optimized plan.

    python tools/plan_fingerprints.py [--check] [query ...]

A fingerprint is the sha1 of ``optimizedPlan().canonicalized().toString()``
for the query built at sf0.001 (expression ids and alias names normalized
away, so renamed helper columns and lambda variables leave it unchanged).
Plan parts that canonicalization does not reach (a cached relation's
physical plan, a Python UDF's result) still print names that depend on
what the process built before. ``normalize`` renumbers their expression
ids (``v#4711``) in order of first appearance, so the text is the same in
every process while references to different attributes of one name (the
two sides of a self-join) stay different; ``MASKS`` blanks fresh lambda
variable suffixes (``x_40``), exchange plan ids and Java identity hashes
(array literals print as ``UnsafeArrayData@1a2b``).
The reference file is ``plans/fingerprints_sf0.001.json``.

Without ``--check`` the named queries (default: all) are built twice in
each of two fresh child processes, registry order in one and reverse order
in the other (so each build sees different expression ids), and their
hashes are written to the file (named queries merge into it). A query
whose plan text differs between any two of its four builds is stored as
``"unstable: <first differing plan line>"``, and one whose build raises as
``"error: <exception>"``, instead of a hash. Instability is intermittent
(four builds can agree by chance), so a query the file already lists as
unstable stays listed; delete its entry to measure it afresh.

With ``--check`` the named queries (default: every entry of the file) are
built in this process and compared with the file: one line per query,
``same``, ``CHANGED``, ``skip`` (an unstable or error entry) or ``MISSING``
(no entry). Exit 1 if any query changed, is missing or fails to build;
exit 2 on an unknown name or flag, before a JVM starts.

Plan-neutral refactors show as all ``same``: write the file from the parent
commit's checkout, copy it here and run ``--check``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import re
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = "/root/testdata/sf0.001"
FINGERPRINTS = os.path.join(REPO, "plans", "fingerprints_sf0.001.json")
# fixed session shape: partition counts that reach a plan must not follow the host
SESSION = {"cpus": 8, "shuffle_partitions": 8}
# an expression id after a name; canonicalized attributes (``none#3``) are already numbered
EXPR_ID = re.compile(r"(?<=[\w)])(?<!none)#(\d+)")
MASKS = (
    (re.compile(r"(lambda \w+?)_\d+#"), r"\1#"),
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"@[0-9a-f]+\b"), "@"),
)
CHILD = "import json, sys, plan_fingerprints as P; print(json.dumps(P.build_plans(json.loads(sys.argv[1]), 2)))"


def is_hash(value: str) -> bool:
    return len(value) == 40 and all(c in "0123456789abcdef" for c in value)


def normalize(plan: str) -> str:
    """``plan`` with its process-dependent names made process-independent."""
    ids: dict[str, int] = {}
    plan = EXPR_ID.sub(lambda m: f"#{ids.setdefault(m.group(1), len(ids))}", plan)
    for pattern, mask in MASKS:
        plan = pattern.sub(mask, plan)
    return plan


def build_plans(names: list[str], builds: int = 1) -> dict[str, list[str]]:
    """query -> its ``builds`` canonicalized optimized plan texts (or
    ``error: ...``), the query built that many times in a row."""
    from utils_spark.registry import load_all
    from utils_spark.session import get_spark

    registry = load_all()
    spark = get_spark(
        app_name="plan_fingerprints",
        extra_conf={"spark.driver.memory": "2g", "spark.ui.showConsoleProgress": "false"},
        **SESSION,
    )
    spark.sparkContext.setLogLevel("ERROR")
    plans = {}
    for name in names:
        plans[name] = []
        for _ in range(builds):
            try:
                df = registry[name].fn(spark, SF_DIR)
                plan = normalize(df._jdf.queryExecution().optimizedPlan().canonicalized().toString())
            except Exception as exc:  # a failed build is recorded, not fatal
                plan = f"error: {type(exc).__name__}: {str(exc).splitlines()[0][:200]}"
            plans[name].append(plan)
    spark.stop()
    return plans


def fingerprint(plan: str) -> str:
    return plan if plan.startswith("error: ") else hashlib.sha1(plan.encode()).hexdigest()


def first_difference(a: str, b: str) -> str:
    for la, lb in zip(a.splitlines(), b.splitlines()):
        if la != lb:
            return la.strip()[:160]
    return f"plans of {len(a)} and {len(b)} characters"


def write(names: list[str]) -> int:
    runs = []
    for order in (names, names[::-1]):
        out = subprocess.run(
            [sys.executable, "-c", CHILD, json.dumps(order)],
            cwd=os.path.dirname(os.path.abspath(__file__)),
            capture_output=True,
            text=True,
        )
        if out.returncode:
            print(out.stderr[-2000:], file=sys.stderr)
            return 1
        runs.append(json.loads(out.stdout.strip().splitlines()[-1]))
    old = {}
    if os.path.exists(FINGERPRINTS):
        with open(FINGERPRINTS) as f:
            old = json.load(f)
    table = {} if names == all_names() else dict(old)
    for name in names:
        texts = runs[0][name] + runs[1][name]
        other = next((t for t in texts if t != texts[0]), None)
        if other is not None:
            table[name] = f"unstable: {first_difference(texts[0], other)}"
        elif old.get(name, "").startswith("unstable: "):
            table[name] = old[name]
        else:
            table[name] = fingerprint(texts[0])
    with open(FINGERPRINTS, "w") as f:
        json.dump(dict(sorted(table.items())), f, indent=1)
        f.write("\n")
    unhashed = sorted(n for n in names if not is_hash(table[n]))
    print(f"# wrote {len(names)} entries to {FINGERPRINTS}; without a hash: {unhashed}", file=sys.stderr)
    return 0


def check(names: list[str]) -> int:
    with open(FINGERPRINTS) as f:
        table = json.load(f)
    names = names or list(table)
    skipped = [n for n in names if n in table and not is_hash(table[n])]
    plans = build_plans([n for n in names if n in table and n not in skipped])
    bad = 0
    for name in names:
        if name not in table:
            print(f"MISSING {name}")
            bad += 1
        elif name in skipped:
            print(f"skip {name}: {table[name]}")
        elif fingerprint(plans[name][0]) == table[name]:
            print(f"same {name} {table[name]}")
        else:
            print(f"CHANGED {name} {table[name]} -> {fingerprint(plans[name][0])}")
            bad += 1
    print(f"# {len(names) - bad - len(skipped)} same, {bad} changed or missing, {len(skipped)} skipped", file=sys.stderr)
    return int(bad > 0)


def all_names() -> list[str]:
    from utils_spark.registry import load_all

    return list(load_all())


def main(argv=None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--check", action="store_true", help=f"compare with {os.path.relpath(FINGERPRINTS, REPO)}")
    parser.add_argument("queries", nargs="*", help="registry names (default: all)")
    args = parser.parse_args(argv)
    known = set(all_names())
    unknown = [n for n in args.queries if n not in known]
    if unknown:
        parser.error(f"unknown query names: {unknown}")
    if args.check:
        return check(args.queries)
    return write(args.queries or all_names())


if __name__ == "__main__":
    sys.exit(main())
