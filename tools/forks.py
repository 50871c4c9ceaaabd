#!/usr/bin/env python3
"""Process starts in a JFR recording, grouped by command and calling frame.

  python3 tools/forks.py run.jfr [more.jfr ...]
  python3 tools/forks.py run.jfr --frames 3     # show 3 calling frames

Counts the `jdk.ProcessStart` events of the recordings (read with the
JDK's `jfr print --json`) by program name (the command's first word, so
`chmod 0644 <file>` and `chmod 0755 <dir>` group together) and by the
first stack frames outside the JDK and Hadoop's `Shell`, that is, the
code that asked for the process. Also prints how many starts ran on
executor task threads.

Recording a perfbench run (nothing under perfbench/ changes; the harness
JVM inherits JAVA_TOOL_OPTIONS, so build the harness with a plain run
first or the sbt JVM records too):

  JAVA_TOOL_OPTIONS="-XX:StartFlightRecording=filename=/tmp/ingest.jfr" \\
    python3 perfbench/run.py --workload ingest --seed 1 --seconds 15 --trace 0
  python3 tools/forks.py /tmp/ingest.jfr
"""
import collections
import json
import shutil
import subprocess
import sys

SKIP = ("java.", "jdk.", "sun.", "org.apache.hadoop.util.Shell")


def events(path):
    jfr = shutil.which("jfr")
    if not jfr:
        sys.exit("forks.py: the JDK's `jfr` tool is not on PATH")
    out = subprocess.run([jfr, "print", "--json", "--stack-depth", "64", "--events", "jdk.ProcessStart", path],
                         check=True, capture_output=True, text=True).stdout
    return json.loads(out)["recording"]["events"]


def caller(values, depth):
    frames = (values.get("stackTrace") or {}).get("frames") or []
    named = [f"{f['method']['type']['name'].replace('/', '.')}.{f['method']['name']}:{f.get('lineNumber', '?')}"
             for f in frames]
    mine = [n for n in named if not n.startswith(SKIP)]
    return " < ".join(mine[:depth]) or (named[0] if named else "(no stack)")


def main(argv):
    if not argv or argv[0] in ("-h", "--help"):
        print(__doc__.strip())
        return 0 if argv else 2
    depth = 1
    if "--frames" in argv:
        i = argv.index("--frames")
        depth = int(argv[i + 1])
        argv = argv[:i] + argv[i + 2:]
    groups = collections.Counter()
    on_tasks = total = 0
    for path in argv:
        for e in events(path):
            v = e["values"]
            program = (v.get("command") or "?").split()[0].rsplit("/", 1)[-1]
            groups[(program, caller(v, depth))] += 1
            thread = (v.get("eventThread") or {}).get("javaName") or ""
            on_tasks += thread.startswith("Executor task launch worker")
            total += 1
    for (program, frame), n in groups.most_common():
        print(f"{n:7d}  {program:<8} {frame}")
    print(f"{total} process starts, {on_tasks} on executor task threads")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
