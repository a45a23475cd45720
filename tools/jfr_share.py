#!/usr/bin/env python3
"""Share of JFR CPU samples whose stack matches each pattern.

    python3 tools/jfr_share.py <recording.jfr> <regex> [<regex> ...]

Reads every `jdk.ExecutionSample` event of the recording (through the
JDK's `jfr print`) and prints, per pattern, how many sampled stacks have
at least one frame `<class>.<method>` that the regex matches (re.search),
and that count's share of all samples. A sample counts once per pattern
however many of its frames match, so shares of overlapping patterns may
sum past 100%.

Record a perfbench run by handing the JVM a flight recorder through the
environment, which perfbench/run.py passes on to the benchmark JVM:

    JAVA_TOOL_OPTIONS="-XX:StartFlightRecording=filename=/tmp/lake.jfr,settings=profile" \\
        python3 perfbench/run.py --workload lake_backfill --seed 9 --seconds 1 --trace 0
    python3 tools/jfr_share.py /tmp/lake.jfr SortAggregate HashAggregate 'parquet\\.'
"""
import json
import re
import subprocess
import sys

# deeper than the recorder's default of 64 frames, so no recorded frame is cut
STACK_DEPTH = 2048


def sample_stacks(path):
    """One list of `<class>.<method>` strings per execution sample."""
    out = subprocess.run(
        ["jfr", "print", "--json", "--stack-depth", str(STACK_DEPTH),
         "--events", "jdk.ExecutionSample", path],
        check=True, capture_output=True, text=True).stdout
    events = json.loads(out)["recording"]["events"]
    stacks = []
    for e in events:
        trace = e["values"].get("stackTrace") or {"frames": []}
        stacks.append([f"{f['method']['type']['name']}.{f['method']['name']}"
                       for f in trace["frames"] if f.get("method")])
    return stacks


def main(argv):
    if len(argv) < 3:
        sys.exit(__doc__.strip())
    path, patterns = argv[1], [re.compile(p) for p in argv[2:]]
    stacks = sample_stacks(path)
    n = len(stacks)
    print(f"{n} execution samples in {path}")
    for p in patterns:
        hits = sum(1 for s in stacks if any(p.search(f) for f in s))
        share = 100.0 * hits / n if n else 0.0
        print(f"  {hits:8d}  {share:5.1f}%  {p.pattern}")


if __name__ == "__main__":
    main(sys.argv)
