#!/usr/bin/env python3
"""Per-child sample shares under named frames of a JFR recording.

    python3 tools/jfr_top.py <recording.jfr> <frame> [frame ...] [--top N] [--prefix P] [--native]

For each named frame (a substring of `package.Class.method`, e.g.
`pushFiles` or `RecordProcessor$.processLine`), counts the samples
(execution samples unless `--native`) whose stack holds that frame, then splits them by the frame's
callee on those stacks (`(self)` when the frame was on top). A frame
that recurses is counted once per sample, at its outermost call.

With `--prefix graft.` the callee is the nearest one whose name starts
with `graft.` and that is not a compiler-made lambda or bridge
(`$anonfun$`, `$adapted`), which steps over collection and lambda
wrappers (`List.foreach`); a sample with no such callee keeps its direct
one.

With `--native` it reads the native-method samples
(`jdk.NativeMethodSample`) instead: stacks of threads sitting in a
native call such as `UnixNativeDispatcher.mkdir0` or `open0`, which is
where an import spends its system time and which execution samples never
show. JDK 17 takes at most one native sample per sampling period (for
the whole JVM, against several execution samples), so compare native
shares only with other native shares, never with execution-sample
counts.

Reads `jfr print --events <event> --stack-depth 300` line by line: the
default stack depth of 5 hides every engine frame, and the `--json` form
of a long recording runs to gigabytes. Both kinds of sample need a deep
stack at recording time as well (the JVM default is 64 frames, which cuts
a Spark task's stack well above the named frames), for example

    JAVA_TOOL_OPTIONS="-XX:FlightRecorderOptions=stackdepth=512 \\
      -XX:StartFlightRecording=filename=/abs/path/run.jfr,settings=profile" \\
      python3 perfbench/run.py --workload import_push --seed 903 --seconds 20 --trace 0
"""
import argparse
import collections
import shutil
import subprocess
import sys


WRAPPERS = ("$anonfun$", "$adapted")


def frame_name(line: str) -> str:
    """`graft.core.Json$P.str() line: 170` -> `graft.core.Json$P.str`."""
    name = line.strip()
    cut = name.find("(")
    return name[:cut] if cut >= 0 else name.split(" ")[0]


def samples(recording: str, event: str):
    """Yield the stack of each `event` sample, leaf first."""
    jfr = shutil.which("jfr")
    if jfr is None:
        sys.exit("jfr_top: no `jfr` on PATH (it ships in the JDK's bin/)")
    cmd = [jfr, "print", "--events", event, "--stack-depth", "300", recording]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, bufsize=1 << 20)
    stack, in_stack = [], False
    for line in proc.stdout:
        s = line.strip()
        if s.startswith("stackTrace = ["):
            stack, in_stack = [], True
        elif in_stack:
            if s == "]":
                in_stack = False
                yield stack
            elif s and s != "...":
                stack.append(frame_name(s))
    if proc.wait() != 0:
        sys.exit(f"jfr_top: `{' '.join(cmd)}` exited with {proc.returncode}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("recording")
    ap.add_argument("frames", nargs="+")
    ap.add_argument("--top", type=int, default=15, help="children to print per frame")
    ap.add_argument("--prefix", default="", help="attribute to the nearest callee with this prefix")
    ap.add_argument("--native", action="store_true",
                    help="read jdk.NativeMethodSample instead of jdk.ExecutionSample")
    args = ap.parse_args()
    event, kind = ("jdk.NativeMethodSample", "native") if args.native else ("jdk.ExecutionSample", "execution")

    total = 0
    under = collections.Counter()
    children = {f: collections.Counter() for f in args.frames}
    for stack in samples(args.recording, event):
        total += 1
        for f in args.frames:
            # outermost occurrence: the last match in a leaf-first stack
            at = next((i for i in range(len(stack) - 1, -1, -1) if f in stack[i]), None)
            if at is None:
                continue
            under[f] += 1
            child = "(self)"
            if at > 0:
                child = stack[at - 1]
                for i in range(at - 1, -1, -1):
                    if stack[i].startswith(args.prefix) and not any(w in stack[i] for w in WRAPPERS):
                        child = stack[i]
                        break
            children[f][child] += 1

    print(f"{total} {kind} samples in {args.recording}")
    for f in args.frames:
        n = under[f]
        print(f"\n{f}: {n} samples ({100.0 * n / max(total, 1):.1f} % of all)")
        for child, c in children[f].most_common(args.top):
            print(f"  {100.0 * c / max(n, 1):5.1f} %  {c:7d}  {child}")


if __name__ == "__main__":
    main()
