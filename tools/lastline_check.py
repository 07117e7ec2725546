#!/usr/bin/env python3
"""Checks that the last raw line a command prints to standard output parses
as JSON: the contract under which a harness reads `graft.Bench`'s headline.

    python3 tools/lastline_check.py                 # runs the bench through sbt
    python3 tools/lastline_check.py -- CMD ARGS...  # checks any other command

The command's standard output is captured as is (standard error passes
through). Exits 0 and prints the parsed object's keys when the last
non-empty line is a JSON object; exits 1 and prints that line when it is
not, and 2 when the command itself fails.
"""
import json
import subprocess
import sys

DEFAULT = ["sbt", "--batch", "runMain graft.Bench"]


def last_line(text):
    lines = [ln for ln in text.splitlines() if ln.strip()]
    return lines[-1] if lines else ""


def check(line):
    """The parsed object, or None when `line` is not one JSON object."""
    try:
        obj = json.loads(line)
    except ValueError:
        return None
    return obj if isinstance(obj, dict) else None


def main(argv):
    cmd = argv[argv.index("--") + 1:] if "--" in argv else DEFAULT
    r = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
    line = last_line(r.stdout)
    if r.returncode != 0:
        print("lastline_check: command exited %d; last line: %r" % (r.returncode, line[:300]))
        return 2
    obj = check(line)
    if obj is None:
        print("lastline_check: FAIL, last line is not a JSON object: %r" % line[:300])
        return 1
    print("lastline_check: OK, %d keys: %s" % (len(obj), ", ".join(sorted(obj))[:300]))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
