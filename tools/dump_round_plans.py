"""Write plans/r<N>/<query>_{before,after}.txt dossiers for an
optimization round: "after" from the working tree, "before" from a
named git rev (checked out into a temporary worktree so the current
tree is untouched). Each dossier is the final AQE plan the query's
action ran, read by the working tree's `profile.run` (loaded by file
path, so a "before" rev older than the module is profiled the same
way).

Usage: python tools/dump_round_plans.py <round> <before_rev> <query ...>
"""

from __future__ import annotations

import os
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PROFILE = os.path.join(REPO, "distributed_computing_projects_spark", "profile.py")


def _dump(repo_root: str, queries: list[str], out_dir: str,
          suffix: str) -> None:
    code = f"""
import sys
sys.path.insert(0, {repo_root!r})
import importlib.util
from distributed_computing_projects_spark.session import get_spark
from distributed_computing_projects_spark.queries import load_registry
spec = importlib.util.spec_from_file_location("query_profile", {PROFILE!r})
profile = importlib.util.module_from_spec(spec)
spec.loader.exec_module(profile)
spark = get_spark(app_name="dossier", cpus=4, shuffle_partitions=4)
spark.sparkContext.setLogLevel("ERROR")
reg = load_registry()
import os
for name in {queries!r}:
    p = profile.run(spark, reg[name].fn, "/root/testdata/sf0.001")["final_plan"]
    with open(os.path.join({out_dir!r}, name + "_" + {suffix!r} + ".txt"),
              "w") as f:
        f.write(p)
    print("wrote", name, {suffix!r})
"""
    subprocess.run([sys.executable, "-c", code], check=True)


def main() -> int:
    rnd, before_rev, *queries = sys.argv[1:]
    out_dir = os.path.join(REPO, "plans", f"r{rnd}")
    os.makedirs(out_dir, exist_ok=True)
    _dump(REPO, queries, out_dir, "after")
    with tempfile.TemporaryDirectory() as tmp:
        wt = os.path.join(tmp, "before")
        subprocess.run(["git", "-C", REPO, "worktree", "add",
                        "--detach", wt, before_rev], check=True)
        try:
            _dump(wt, queries, out_dir, "before")
        finally:
            subprocess.run(["git", "-C", REPO, "worktree", "remove",
                            "--force", wt], check=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
