#!/usr/bin/env python3
"""Summarize a JFR recording of a perfbench run into a call-site table.

    python3 scripts/jfr_sites.py <recording.jfr> [--top N] [--markdown]

Counts the main thread's execution samples taken inside the engine's search
calls of `perfbench/run.py` (under `graftbench.Workloads.query`), leaving
out the samples of the harness's brute-force and exhaustive checks (under
`Workloads.check`). Each sample is put in one engine call site (the
innermost frame of a named search-path method, else the innermost `graft`
frame; the plan runner's frames count for its caller; `result collect` for
the harness's own collect of the returned Dataset, which runs no engine
frame) and in one Spark category (the first rule below that matches any
frame of its stack), and the script prints the sites x categories table,
then the closure-cleaner samples by the call that made the cleaned job
(`Dataset.collect`, `Dataset.rdd`, a whole-stage-codegen node, an engine
method).

Execution samples are taken only while a thread runs, so they miss the
time the main thread waits for a Spark job. The `park ms` column sums the
main thread's `jdk.ThreadPark` events (a job wait parks in
`JobWaiter.awaitResult`) by the same call sites. JFR records a park only
if it lasts past the event's threshold, 10 ms under `settings=profile`;
a lower threshold, as below, keeps the short waits of a small search.

Record a profile on an unmodified, already built benchmark checkout; the
stack depth must hold Spark's deep stacks:

    JAVA_TOOL_OPTIONS="-XX:FlightRecorderOptions=stackdepth=1024 \\
      -XX:StartFlightRecording=filename=/tmp/adhoc.jfr,settings=profile,jdk.ThreadPark#threshold=1ms" \\
      python3 perfbench/run.py --workload adhoc --seed 2 --seconds 14
    python3 scripts/jfr_sites.py /tmp/adhoc.jfr

It needs the JDK's `jfr` tool on the PATH.
"""
import argparse
import collections
import json
import re
import subprocess
import sys

# (category, frame prefixes): the first category with a frame under one of
# its prefixes wins, so a closure clean inside an encoder resolution counts
# as the clean
CATEGORIES = [
    ("ClosureCleaner", ("org/apache/spark/util/ClosureCleaner",
                        "org/apache/spark/util/SparkClosureCleaner")),
    ("codegen", ("org/apache/spark/sql/catalyst/expressions/codegen/",
                 "org/apache/spark/sql/execution/WholeStageCodegenExec.doCodeGen")),
    ("encoder reflection", ("org/apache/spark/sql/catalyst/ScalaReflection",
                            "org/apache/spark/sql/catalyst/encoders/ScalaReflection",
                            "scala/reflect/")),
    ("Catalyst analysis", ("org/apache/spark/sql/catalyst/analysis/",
                           "org/apache/spark/sql/execution/QueryExecution.assertAnalyzed",
                           "org/apache/spark/sql/execution/QueryExecution.analyzed")),
    ("ExpressionEncoder", ("org/apache/spark/sql/catalyst/encoders/",)),
    ("optimizer", ("org/apache/spark/sql/catalyst/optimizer/",
                   "org/apache/spark/sql/execution/QueryExecution.optimizedPlan")),
    ("physical planning", ("org/apache/spark/sql/execution/QueryExecution.sparkPlan",
                           "org/apache/spark/sql/execution/QueryExecution.executedPlan",
                           "org/apache/spark/sql/execution/adaptive/")),
    ("scheduler", ("org/apache/spark/scheduler/",)),
    # the rest of a Dataset action's new SQL execution (listener events,
    # result decoding)
    ("SQL execution", ("org/apache/spark/sql/execution/SQLExecution",)),
]

# frames that name the call a cleaned job closure came from, and how to
# print them
CLEAN_CALLERS = ("org/apache/spark/sql/classic/Dataset.",
                 "org/apache/spark/sql/execution/WholeStageCodegenExec", "graft/")
CLEAN_NAMES = {"Dataset.collectFromPlan": "Dataset.collect",
               "Dataset.materializedRdd$lzycompute": "Dataset.rdd"}

# search-path methods reported as call sites (a runner frame counts for
# the method that called the runner)
SITES = {"BuiltIndex.termStatsOf", "Searcher.docnoLookup", "Searcher.docidLookup",
         "TopK$.toDriver", "TopK$.collect", "RangeScorer$.score", "Searcher.collectTopK",
         "Searcher.scoredClauses", "ClausePlan.<init>", "DriverRows$.dataset",
         "DriverRows$.frame", "DriverRows$Builder.$plus$eq", "DriverRowsStrategy$.apply"}

# a sample under this frame with no engine frame is the caller's collect of
# the Dataset a search returned
RESULT_COLLECT = "org/apache/spark/sql/classic/Dataset.collect"

ENTRY = "graftbench/Workloads.query"
CHECK = "graftbench/Workloads.check"


def frames(event):
    return [f["method"]["type"]["name"] + "." + f["method"]["name"]
            for f in event["values"]["stackTrace"]["frames"]]


def short(frame):
    """`graft/search/Searcher.docnoLookup` -> `Searcher.docnoLookup`."""
    return frame.rsplit("/", 1)[-1]


def site(stack):
    """The innermost named search-path method of a stack (innermost frame
    first), else its innermost engine frame, else the result collect."""
    for f in stack:
        s = short(f).split("$anonfun$")[0]
        if f.startswith("graft/") and s in SITES:
            return s
    for f in stack:
        if f.startswith("graft/"):
            return short(f)
    if any(f.startswith(RESULT_COLLECT) for f in stack):
        return "result collect"
    return "(other)"


def clean_caller(stack):
    """For a ClosureCleaner sample: the Dataset action, plan node or engine
    method whose job closure is being cleaned."""
    outer = max(i for i, f in enumerate(stack) if "ClosureCleaner" in f)
    for f in stack[outer + 1:]:
        if f.startswith(CLEAN_CALLERS):
            name = short(f).split("$anonfun$")[0]
            return CLEAN_NAMES.get(name, name)
    return "(other)"


def seconds(duration):
    """An ISO-8601 duration of `jfr print --json` (`PT0.031S`, `PT1M2.5S`)."""
    h, m, s = re.fullmatch(r"PT(?:(\d+)H)?(?:(\d+)M)?(?:([\d.]+)S)?", duration).groups()
    return int(h or 0) * 3600 + int(m or 0) * 60 + float(s or 0)


def category(stack):
    for name, prefixes in CATEGORIES:
        if any(f.startswith(p) for f in stack for p in prefixes):
            return name
    return "other"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("recording")
    ap.add_argument("--top", type=int, default=12, help="call sites to list")
    ap.add_argument("--markdown", action="store_true", help="print a markdown table")
    a = ap.parse_args()
    out = subprocess.run(["jfr", "print", "--json", "--stack-depth", "1024",
                          "--events", "jdk.ExecutionSample,jdk.ThreadPark", a.recording],
                         check=True, capture_output=True, text=True).stdout
    events = json.loads(out)["recording"]["events"]
    table = collections.Counter()
    cleans = collections.Counter()
    park_ms = collections.Counter()
    truncated = 0
    for e in events:
        park = e["type"] == "jdk.ThreadPark"
        thread = e["values"]["eventThread" if park else "sampledThread"]
        if thread["javaName"] != "main" or not e["values"]["stackTrace"]:
            continue
        stack = frames(e)
        if not any(f.startswith(ENTRY) for f in stack) or any(f.startswith(CHECK) for f in stack):
            continue
        truncated += e["values"]["stackTrace"]["truncated"]
        if park:
            park_ms[site(stack)] += seconds(e["values"]["duration"]) * 1000
            continue
        cat = category(stack)
        table[(site(stack), cat)] += 1
        if cat == "ClosureCleaner":
            cleans[clean_caller(stack)] += 1
    total = sum(table.values())
    by_site = collections.Counter()
    by_cat = collections.Counter()
    for (s, c), n in table.items():
        by_site[s] += n
        by_cat[c] += n
    cats = [c for c in [n for n, _ in CATEGORIES] + ["other"] if by_cat[c]]
    # a site that only waits still gets a row
    sites = sorted(set(by_site) | set(park_ms), key=lambda s: (-by_site[s], -park_ms[s]))[:a.top]
    rest = total - sum(by_site[s] for s in sites)
    rest_park = sum(park_ms.values()) - sum(park_ms[s] for s in sites)
    print(f"{total} main-thread samples in search calls, checks excluded"
          + (f" ({truncated} truncated stacks: raise stackdepth)" if truncated else ""))
    if a.markdown:
        print("| site | total | " + " | ".join(cats) + " | park ms |")
        print("|---|---:|" + "---:|" * len(cats) + "---:|")
        for s in sites:
            print(f"| `{s}` | {by_site[s]} | " + " | ".join(str(table[(s, c)]) for c in cats)
                  + f" | {park_ms[s]:.0f} |")
        if rest or rest_park:
            print(f"| (other sites) | {rest} | " + " | ".join(
                str(sum(n for (s, c2), n in table.items() if c2 == c and s not in sites))
                for c in cats) + f" | {rest_park:.0f} |")
        print(f"| **total** | {total} | " + " | ".join(str(by_cat[c]) for c in cats)
              + f" | {sum(park_ms.values()):.0f} |")
    else:
        w = max([len(s) for s in sites] + [13])
        print(f"{'site':<{w}} {'total':>5}  " + "  ".join(f"{c[:12]:>12}" for c in cats) + f"  {'park ms':>8}")
        for s in sites:
            print(f"{s:<{w}} {by_site[s]:>5}  " + "  ".join(f"{table[(s, c)]:>12}" for c in cats)
                  + f"  {park_ms[s]:>8.0f}")
        if rest or rest_park:
            print(f"{'(other sites)':<{w}} {rest:>5}  " + " " * (14 * len(cats) - 2) + f"  {rest_park:>8.0f}")
        print(f"{'total':<{w}} {total:>5}  " + "  ".join(f"{by_cat[c]:>12}" for c in cats)
              + f"  {sum(park_ms.values()):>8.0f}")
    print(f"ClosureCleaner samples by the call whose job closure is cleaned: "
          + (", ".join(f"{c} {n}" for c, n in cleans.most_common()) or "none"))
    return 0


if __name__ == "__main__":
    sys.exit(main())
