"""Summarise a Java Flight Recording: where the CPU samples fall, and what
the JVM forked.

    python tools/jfr_summary.py REC.jfr [--frames a,b,...] [--thread SUB] [--top N] [--depth D]

Prints, from ``jdk.ExecutionSample`` (of the threads whose name contains
``--thread``, by default Spark's task threads), the top frames by self
share and, for each ``--frames`` substring, its self share (the sampled top
frame matches) and inclusive share (any frame of the sample matches); then,
from ``jdk.ProcessStart``, the forked commands grouped by their program and
their first Spark call site (the frame nearest the fork whose class is in
``org.apache.spark``).  Uses only the standard library and the JDK's
``jfr`` command, whose text output it reads as a stream.

To record a Spark driver (local mode runs every task in it), start the
process with, for example::

    JAVA_TOOL_OPTIONS=-XX:StartFlightRecording=filename=rec.jfr,settings=profile \\
        python3 perfbench/run.py --workload drain_daynames --seed 1 --seconds 15 --trace 0
"""

from __future__ import annotations

import argparse
import collections
import subprocess
import sys
from typing import Iterator

DEFAULT_FRAMES = "TimestampFormatter,getFormatter,java.util.regex,processNext"


def events(path: str, name: str, depth: int) -> Iterator[dict]:
    """Each ``name`` event of the recording: its scalar fields as strings
    and its stack as a list of ``Class.method`` frames, top first."""
    cmd = ["jfr", "print", "--events", name, "--stack-depth", str(depth), path]
    with subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True) as proc:
        event: dict | None = None
        frames: list[str] | None = None
        for line in proc.stdout:
            s = line.strip()
            if s == f"{name} {{":
                event = {"stack": []}
            elif event is None:
                continue
            elif frames is not None:
                if s == "]":
                    event["stack"], frames = frames, None
                elif s != "...":
                    frames.append(s.split("(", 1)[0])
            elif s == "stackTrace = [":
                frames = []
            elif s == "}":
                yield event
                event = None
            elif " = " in s:
                key, value = s.split(" = ", 1)
                event[key] = value.strip('"')
    if proc.returncode:
        sys.exit(f"jfr print failed ({proc.returncode}) on {path}")


def samples_report(path: str, subs: list[str], thread: str, top: int, depth: int) -> None:
    total = 0
    self_frames: collections.Counter[str] = collections.Counter()
    self_hits: collections.Counter[str] = collections.Counter()
    incl_hits: collections.Counter[str] = collections.Counter()
    for ev in events(path, "jdk.ExecutionSample", depth):
        stack = ev["stack"]
        if not stack or thread not in ev.get("sampledThread", ""):
            continue
        total += 1
        self_frames[stack[0]] += 1
        for sub in subs:
            self_hits[sub] += sub in stack[0]
            incl_hits[sub] += any(sub in f for f in stack)
    print(f"execution samples of threads named *{thread}*: {total}")
    if not total:
        return
    print(f"top {top} frames by self share:")
    for frame, n in self_frames.most_common(top):
        print(f"  {100 * n / total:6.2f} %  {frame}")
    print("frames matching (self / inclusive share):")
    for sub in subs:
        print(f"  {sub}: {100 * self_hits[sub] / total:.2f} % / {100 * incl_hits[sub] / total:.2f} %")


def forks_report(path: str, depth: int) -> None:
    groups: collections.Counter[tuple[str, str]] = collections.Counter()
    for ev in events(path, "jdk.ProcessStart", depth):
        program = ev.get("command", "?").split(" ", 1)[0]
        site = next((f for f in ev["stack"] if f.startswith("org.apache.spark")), "(no Spark frame)")
        groups[program, site] += 1
    print(f"forked processes: {sum(groups.values())}")
    for (program, site), n in groups.most_common():
        print(f"  {n:6d}  {program:10s} {site}")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("recording")
    ap.add_argument("--frames", default=DEFAULT_FRAMES, help="comma-separated frame substrings")
    ap.add_argument("--thread", default="Executor task launch worker", help="thread name substring")
    ap.add_argument("--top", type=int, default=15)
    ap.add_argument("--depth", type=int, default=96, help="stack frames read per event")
    args = ap.parse_args()
    subs = [s for s in args.frames.split(",") if s]
    samples_report(args.recording, subs, args.thread, args.top, args.depth)
    forks_report(args.recording, args.depth)


if __name__ == "__main__":
    main()
