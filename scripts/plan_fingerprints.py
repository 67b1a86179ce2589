"""Per-entry physical-plan fingerprints of the query registry.

Builds each registry entry at sf0.001 with Spark pinned to a fixed
core count, records the executed plan at every eager action the
builder runs (`localCheckpoint`, `count`, `collect`), then collects the
result and records the AQE-final plan. Checkpointed operators thus
show their in-loop plans, not the `Scan ExistingRDD` stub left after
the checkpoint. A streaming query's last micro-batch plan is recorded
when the builder awaits its termination (`stream`): a memory-sink
entry's final plan is only a `LocalTableScan` of the sink. Plans are
normalized so that two runs of unchanged code give the same text:
expression ids (`#12`), `[id=12]`, `plan_id=12`, lambda-variable
counters (`x_12`), AQE query-stage ids (`ShuffleQueryStage 3`),
whole-stage-codegen ids (`*(5)`), the checkout path, and the per-run
tokens of a streaming plan (sink object hashes, temporary checkpoint
directories, run ids, watermark node ids and the batch timestamp of a
stateful operator).

Usage:
  python scripts/plan_fingerprints.py [NAME ...]
      one line per entry: each action with the sha1 of its plan
  python scripts/plan_fingerprints.py --show NAME
      print the normalized plans of one entry
  python scripts/plan_fingerprints.py --diff REV [NAME ...]
      build REV in a temporary git worktree and this checkout, each in
      its own process; list the entries whose plans differ, each with
      a unified diff. Exits 1 when any entry differs. Entries whose
      plans differ only in the order of items within lines (the
      Expand projections of multi-column distinct aggregates, ordered
      by expression-id hashes) are listed apart and do not count.

  --out FILE writes {name: [[action, plan], ...]} as JSON;
  --root DIR builds the checkout at DIR instead of this one.
"""

from __future__ import annotations

import argparse
import difflib
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import tempfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
CPUS = "2"  # spread_for_kernel's partition count follows the core count

_NORMALIZE = [
    (re.compile(r"#\d+"), "#"),
    (re.compile(r"\[id=\d+\]"), "[id=]"),
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"\bx_\d+"), "x_"),
    (re.compile(r"QueryStage \d+"), "QueryStage"),
    (re.compile(r"\*\(\d+\)"), "*()"),
    (re.compile(r"MemoryStreamingWrite@[0-9a-f]+"), "MemoryStreamingWrite@"),
    (re.compile(r"file:/tmp/temporary-[0-9a-f-]+"), "file:/tmp/temporary-"),
    (re.compile(r"runId = [0-9a-f-]+"), "runId = "),
    (re.compile(r"EventTimeWatermark [0-9a-f-]+"), "EventTimeWatermark "),
    (re.compile(r"(NoTimeout|ProcessingTimeTimeout|EventTimeTimeout), \d+,"),
     r"\1, ,"),
]
_HOOKED = ("localCheckpoint", "count", "collect")


def normalize(plan: str, root: str) -> str:
    plan = plan.replace(root, "<root>")
    for rx, sub in _NORMALIZE:
        plan = rx.sub(sub, plan)
    return plan


def record(names: list[str], root: Path) -> dict[str, list[list[str]]]:
    """{name: [[action, normalized plan], ...]} for the checkout at
    root, built in this process."""
    os.environ["SPARK_GRAFT_CPUS"] = CPUS
    os.chdir(root)
    sys.path.insert(0, str(root))
    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.streaming.query import StreamingQuery

    from mapreduce_chisquare_spark.constants import DEFAULT_SF_DIR
    from mapreduce_chisquare_spark.plans.registry import REGISTRY
    from mapreduce_chisquare_spark.session import get_spark

    spark = get_spark("plan_fingerprints")
    # untruncated file locations: the checkout path's length would
    # otherwise move the cut
    spark.conf.set("spark.sql.maxMetadataStringLength", "100000")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF_DIR)

    def plan_of(df) -> str:
        text = df._jdf.queryExecution().executedPlan().toString()
        return normalize(text, str(root))

    def stream_plan_of(query) -> str:
        last = query._jsq.streamingQuery().lastExecution()
        return normalize(last.executedPlan().toString(), str(root))

    actions: list[list[str]] = []
    originals = {m: getattr(DataFrame, m) for m in _HOOKED}

    def hooked(method):
        orig = originals[method]

        def run(self, *args, **kwargs):
            actions.append([method, plan_of(self)])
            return orig(self, *args, **kwargs)

        return run

    await_termination = StreamingQuery.awaitTermination

    def awaited(self, *args, **kwargs):
        result = await_termination(self, *args, **kwargs)
        actions.append(["stream", stream_plan_of(self)])
        return result

    out = {}
    for name in names or list(REGISTRY):
        actions = []
        for m in _HOOKED:
            setattr(DataFrame, m, hooked(m))
        StreamingQuery.awaitTermination = awaited
        try:
            df = REGISTRY[name][0](spark, sf_dir)
        except Exception as exc:  # noqa: BLE001 — record, keep going
            actions.append(["error", f"{type(exc).__name__}: {exc}"[:500]])
            df = None
        finally:
            for m, orig in originals.items():
                setattr(DataFrame, m, orig)
            StreamingQuery.awaitTermination = await_termination
        if df is not None:
            try:
                df.collect()
                actions.append(["final", plan_of(df)])
            except Exception as exc:  # noqa: BLE001
                actions.append(["error", f"{type(exc).__name__}: {exc}"[:500]])
        out[name] = actions
        print(f"recorded {name}", file=sys.stderr, flush=True)
    return out


def _sha(text: str) -> str:
    return hashlib.sha1(text.encode()).hexdigest()[:12]


def _dump(root: Path, names: list[str], out: Path) -> dict:
    cmd = [sys.executable, __file__, "--root", str(root), "--out", str(out)]
    env = {**os.environ, "PYTHONHASHSEED": "0"}
    subprocess.run(cmd + names, check=True, stdout=subprocess.DEVNULL, env=env)
    return json.loads(out.read_text())


def _reordered(old: list[list[str]], new: list[list[str]]) -> bool:
    """Same plans up to the order of the tokens within each line (the
    diff is still printed). Spark orders the Expand projections of a
    multi-column distinct aggregate by a hash of expression ids, so
    that order follows how many expressions the JVM made before the
    entry (cache directories built on a first run, code changes in
    earlier entries), not the entry's own code."""
    def bag(actions):
        return [
            (a, [sorted(re.split(r"[\s,()\[\]]+", line))
                 for line in p.splitlines()])
            for a, p in actions
        ]
    return bag(old) == bag(new)


def _lines(actions: list[list[str]]) -> list[str]:
    lines = []
    for action, plan in actions:
        lines.append(f"== {action} ==")
        lines.extend(plan.splitlines())
    return lines


def diff(rev: str, names: list[str]) -> int:
    tmp = Path(tempfile.mkdtemp(prefix="plan_fingerprints_"))
    tree = tmp / "tree"
    git = ["git", "-C", str(ROOT)]
    subprocess.run(
        git + ["worktree", "add", "--detach", str(tree), rev],
        check=True, stdout=subprocess.DEVNULL,
    )
    try:
        old = _dump(tree, names, tmp / "old.json")
    finally:
        subprocess.run(git + ["worktree", "remove", "--force", str(tree)])
    new = _dump(ROOT, names, tmp / "new.json")
    shutil.rmtree(tmp, ignore_errors=True)
    differ = [n for n in {**old, **new} if old.get(n) != new.get(n)]
    shuffled = [
        n for n in differ
        if n in old and n in new and _reordered(old[n], new[n])
    ]
    moved = [n for n in differ if n not in shuffled]
    for name in differ:
        print(f"### {name}")
        sys.stdout.writelines(
            line + "\n"
            for line in difflib.unified_diff(
                _lines(old.get(name, [])), _lines(new.get(name, [])),
                f"{rev}:{name}", f"worktree:{name}", lineterm="",
            )
        )
    if shuffled:
        print(f"{len(shuffled)} entries differ only in the order of tokens "
              f"within plan lines: {' '.join(shuffled)}")
    print(f"{len(moved)} of {len({**old, **new})} entries differ from "
          f"{rev}: {' '.join(moved)}")
    return 1 if moved else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("names", nargs="*", help="registry entries (default: all)")
    ap.add_argument("--diff", metavar="REV")
    ap.add_argument("--show", metavar="NAME")
    ap.add_argument("--out", type=Path)
    ap.add_argument("--root", type=Path, default=ROOT)
    args = ap.parse_args()
    if args.diff:
        return diff(args.diff, args.names)
    if args.show:
        for action, plan in record([args.show], args.root)[args.show]:
            print(f"== {action} ({_sha(plan)}) ==\n{plan}\n")
        return 0
    rec = record(args.names, args.root)
    if args.out:
        args.out.write_text(json.dumps(rec))
        return 0
    for name, actions in rec.items():
        print(name, " ".join(f"{a}:{_sha(p)}" for a, p in actions))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
