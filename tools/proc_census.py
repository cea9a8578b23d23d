#!/usr/bin/env python3
"""Count the child processes and thread starts in a JFR recording.

Groups the recording's `jdk.ProcessStart` events by program (`chmod`,
`readlink`, `rm`, ...) and by the area of the file the command names:

- `ckpt:<dir>`: a streaming checkpoint file, by its checkpoint
  subdirectory (`state`, `offsets`, `commits`, `sources`, `metadata`);
- `sink`: a table write (a `_temporary` directory, `_SUCCESS`, or a
  path under a `warehouse` directory);
- `other`: anything else, and commands that name no path.

Then counts the `jdk.ThreadStart` events. Reads the recording through
the JDK's `jfr print --json`, so `jfr` must be on the PATH.

The rounds window of a perfbench run (see the verify skill): start a
recording with `jcmd <pid> JFR.start` when the run's stderr log prints
`set up`, and `jcmd <pid> JFR.dump` it at `rounds done`.

Usage: python3 tools/proc_census.py <file.jfr>
"""
import collections
import json
import os
import re
import subprocess
import sys

CKPT_DIRS = ("state", "offsets", "commits", "sources", "metadata")


def area(command):
    """The checkpoint or sink area of the last path in `command`."""
    paths = [t for t in command.split() if "/" in t]
    if not paths:
        return "other"
    path = re.sub(r"^file:", "", paths[-1])
    parts = path.split("/")
    if "_temporary" in parts or "_SUCCESS" in parts or "warehouse" in parts:
        return "sink"
    # the checkpoint subdirectory: the last one named, so a state store
    # directory inside a checkpoint counts as `state`
    named = [p for p in parts if p in CKPT_DIRS]
    return f"ckpt:{named[-1]}" if named else "other"


def events(jfr_file):
    out = subprocess.run(
        ["jfr", "print", "--json", "--events", "jdk.ProcessStart,jdk.ThreadStart",
         jfr_file], check=True, capture_output=True, text=True).stdout
    return json.loads(out)["recording"]["events"]


def main(argv):
    if len(argv) != 2:
        sys.exit(__doc__.strip().splitlines()[-1])
    procs = collections.Counter()
    threads = 0
    for e in events(argv[1]):
        if e["type"] == "jdk.ThreadStart":
            threads += 1
        elif e["type"] == "jdk.ProcessStart":
            cmd = e["values"].get("command") or ""
            prog = os.path.basename(cmd.split()[0]) if cmd.split() else "?"
            procs[(prog, area(cmd))] += 1
    print(f"{'program':<12} {'area':<16} {'count':>7}")
    for (prog, ar), n in sorted(procs.items(), key=lambda kv: (-kv[1], kv[0])):
        print(f"{prog:<12} {ar:<16} {n:>7}")
    print(f"processes {sum(procs.values())} threads {threads}")


if __name__ == "__main__":
    main(sys.argv)
