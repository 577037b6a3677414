#!/usr/bin/env python3
"""Where a set of JVM threads spends its time, from a JFR recording.

    python3 tools/jfr_threads.py rec.jfr --threads 'graft-mysql-conn' --top 30
    python3 tools/jfr_threads.py rec.jfr --callers 'ClosureCleaner\\$\\.clean\\('
    jfr print --events jdk.ExecutionSample rec.jfr > samples.txt
    python3 tools/jfr_threads.py samples.txt

Reads the execution samples of a recording (a .jfr file, printed here with
`jfr print --events jdk.ExecutionSample --stack-depth N`, or that command's
text output saved to a file, or `-` for stdin), keeps the samples whose
thread name matches --threads, and prints for each frame (a method, or a
class with --by class):

  inclusive  share of kept samples with the frame anywhere on the stack
  self       share of kept samples with the frame on top of the stack

With --callers REGEX it also prints, for the frames matching REGEX, the
frames that called them and their share of the kept samples. A stack that
the recording truncated (it ends in "...") still counts; its missing root
frames do not, so record with a stack depth that fits the workload
(-XX:FlightRecorderOptions=stackdepth=256).
"""
import argparse
import collections
import re
import subprocess
import sys

THREAD = re.compile(r'^\s*sampledThread = "(.*)" \(')
FRAME_SUFFIX = re.compile(r'\s+line: \d+.*$')


def read_samples(path, depth):
    """Yields (thread name, frames leaf first) per jdk.ExecutionSample."""
    if path.endswith(".jfr"):
        text = subprocess.run(
            ["jfr", "print", "--events", "jdk.ExecutionSample", "--stack-depth", str(depth), path],
            check=True, capture_output=True, text=True).stdout.splitlines()
    elif path == "-":
        text = sys.stdin.read().splitlines()
    else:
        with open(path, encoding="utf-8") as fh:
            text = fh.read().splitlines()
    thread, frames, in_stack = None, [], False
    for line in text:
        s = line.strip()
        if s.startswith("jdk.ExecutionSample"):
            thread, frames, in_stack = None, [], False
        elif (m := THREAD.match(line)) is not None:
            thread = m.group(1)
        elif s.startswith("stackTrace = ["):
            in_stack = True
        elif in_stack and s == "]":
            in_stack = False
        elif in_stack and s and s != "...":
            frames.append(FRAME_SUFFIX.sub("", s))
        elif s == "}" and thread is not None:
            yield thread, frames
            thread, frames = None, []


def frame_key(frame, by):
    """The method as printed (class.method(args)), or only its class."""
    if by == "class":
        return frame.split("(", 1)[0].rsplit(".", 1)[0]
    return frame


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("input", help=".jfr recording, saved `jfr print` text, or - for stdin")
    ap.add_argument("--threads", default="graft-mysql-conn",
                    help="regex on the sampled thread's name (default: %(default)s)")
    ap.add_argument("--by", choices=("method", "class"), default="method")
    ap.add_argument("--top", type=int, default=25, help="frames to list (default: %(default)s)")
    ap.add_argument("--callers", help="regex: also list the callers of the frames it matches")
    ap.add_argument("--stack-depth", type=int, default=256,
                    help="frames `jfr print` keeps per stack when reading a .jfr (default: %(default)s)")
    a = ap.parse_args()

    want = re.compile(a.threads)
    callers_of = re.compile(a.callers) if a.callers else None
    total = kept = 0
    incl, self_ = collections.Counter(), collections.Counter()
    callers = collections.Counter()
    for thread, frames in read_samples(a.input, a.stack_depth):
        total += 1
        if not want.search(thread):
            continue
        kept += 1
        keys = [frame_key(f, a.by) for f in frames]
        if keys:
            self_[keys[0]] += 1
        incl.update(set(keys))
        if callers_of is not None:
            seen = set()
            for f, caller in zip(frames, frames[1:]):
                if callers_of.search(f):
                    seen.add((frame_key(f, a.by), frame_key(caller, a.by)))
            callers.update(seen)

    print(f"{kept} of {total} samples on threads matching /{a.threads}/")
    if kept == 0:
        return
    print(f"\n{'inclusive':>9} {'self':>6}  frame")
    for key, n in incl.most_common(a.top):
        print(f"{100 * n / kept:8.1f}% {100 * self_[key] / kept:5.1f}%  {key}")
    print(f"\n{'self':>6}  frame (top of stack)")
    for key, n in self_.most_common(a.top):
        print(f"{100 * n / kept:5.1f}%  {key}")
    if callers_of is not None:
        print(f"\ncallers of frames matching /{a.callers}/ (share of kept samples)")
        for (callee, caller), n in callers.most_common(a.top):
            print(f"{100 * n / kept:6.1f}%  {caller}\n           -> {callee}")


if __name__ == "__main__":
    main()
