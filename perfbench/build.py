#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the library's main sources (`src/main/scala`, plus its resources)
and the benchmark's own sources (`perfbench/src`) with the Scala compiler
that ships among Spark's jars, into `.bench_build/main-<hash>/` and
`.bench_build/bench-<hash>/` at the root of the checkout. The project's
`build.sbt` is not used or touched: the benchmark links against the
compiled main classes exactly as a library caller would. Each output is
reused while its sources (and, for the benchmark, the library) do not
change.

    python3 perfbench/build.py          # prints the classpath it built
"""
import fcntl
import hashlib
import os
import re
import shutil
import subprocess
import sys

BUILD_DIR = ".bench_build"


def spark_jars(root):
    """Directory of Spark's jars: $SPARK_HOME/jars, else the `unmanagedBase`
    the project's build.sbt compiles against."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    try:
        with open(os.path.join(root, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    except OSError:
        pass
    return None


def _files(base, suffix=None):
    out = []
    for d, _, names in os.walk(base):
        for n in names:
            if suffix is None or n.endswith(suffix):
                out.append(os.path.join(d, n))
    return sorted(out)


def _scalac(jars, classpath, out, sources):
    compiler = os.pathsep.join(os.path.join(jars, j) for j in sorted(os.listdir(jars))
                               if re.match(r"scala-(compiler|library|reflect)-2\.13\.\d+\.jar$", j))
    os.makedirs(out, exist_ok=True)
    argfile = out + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(sources))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", compiler,
           "scala.tools.nsc.Main", "-nowarn", "-classpath", classpath, "-d", out,
           "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    os.remove(argfile)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        raise RuntimeError("scalac failed on %d sources into %s" % (len(sources), out))


def _digest(root, paths, extra=()):
    h = hashlib.sha256()
    for e in extra:
        h.update(e if isinstance(e, bytes) else e.encode())
    for p in paths:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def _compile_into(jars, classpath, out, sources, extra=None):
    """Compiles into a temporary directory renamed into place when whole."""
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    _scalac(jars, classpath, tmp, sources)
    if extra:
        extra(tmp)
    os.rename(tmp, out)


def build(root):
    """Returns (main_classes, bench_classes, spark_jars_dir); raises on any
    missing input or compile error."""
    jars = spark_jars(root)
    main_src = os.path.join(root, "src", "main", "scala")
    main_res = os.path.join(root, "src", "main", "resources")
    bench_src = os.path.join(root, "perfbench", "src")
    if jars is None:
        raise RuntimeError("Spark jars not found: set SPARK_HOME")
    if not os.path.isdir(main_src) or not os.path.isdir(bench_src):
        raise RuntimeError("library or benchmark sources missing under " + root)
    main_files = _files(main_src, ".scala")
    res_files = _files(main_res) if os.path.isdir(main_res) else []
    bench_files = _files(bench_src, ".scala")
    top = os.path.join(root, BUILD_DIR)
    os.makedirs(top, exist_ok=True)
    jar_cp = os.path.join(jars, "*")
    base = [",".join(sorted(os.listdir(jars))).encode(), _digest(root, [os.path.abspath(__file__)])]
    main_key = _digest(root, main_files + res_files, base)
    bench_key = _digest(root, bench_files, base + [main_key.encode()])
    main_out = os.path.join(top, "main-" + main_key)
    bench_out = os.path.join(top, "bench-" + bench_key)
    with open(os.path.join(top, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if not os.path.isdir(main_out):
            def resources(tmp):
                for p in res_files:
                    dst = os.path.join(tmp, os.path.relpath(p, main_res))
                    os.makedirs(os.path.dirname(dst), exist_ok=True)
                    shutil.copyfile(p, dst)
            _compile_into(jars, jar_cp, main_out, main_files, resources)
        if not os.path.isdir(bench_out):
            _compile_into(jars, main_out + os.pathsep + jar_cp, bench_out, bench_files)
        # builds of other source trees are dead weight
        for n in os.listdir(top):
            if n.startswith(("main-", "bench-")) and os.path.join(top, n) not in (main_out, bench_out):
                shutil.rmtree(os.path.join(top, n), ignore_errors=True)
    return main_out, bench_out, jars


if __name__ == "__main__":
    root = os.getcwd()
    m, b, j = build(root)
    print(os.pathsep.join([m, b, os.path.join(j, "*")]))
