"""Build file of the benchmark: compiles the checkout's program and the
benchmark harness with the Scala compiler, and gives the JVM command line.

Classes are cached under perfbench/.cache, keyed by a content hash of
their sources: the program by src/main and build.sbt, the harness by the
program's key and its own sources. A changed source gets a new key and a
fresh build, so a run never times classes built from other sources.
The JVM flags are read from build.sbt's javaOptions (the add-opens list,
UTC, UI off), so the benchmark starts the program as `sbt run` would.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
CACHE = os.path.join(HERE, ".cache")


def _files(root, sub):
    out = []
    for d, _, fs in os.walk(os.path.join(root, sub)):
        out += [os.path.join(d, f) for f in fs]
    return sorted(out)


def _hash(paths, root, salt=""):
    h = hashlib.sha256(salt.encode())
    for p in paths:
        h.update(os.path.relpath(p, root).encode() + b"\0")
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def spark_jars(root):
    """The jar directory build.sbt names as unmanagedBase."""
    with open(os.path.join(root, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise SystemExit("build.sbt names no unmanagedBase jar directory")
    return m.group(1)


def java_flags(root):
    """build.sbt's javaOptions: the --add-opens list plus UTC and UI off."""
    with open(os.path.join(root, "build.sbt")) as f:
        sbt = f.read()
    opens = re.findall(r'"(java\.base/[\w./]+)"', sbt)
    flags = [x for p in opens for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    flags += re.findall(r'"(-Dspark\.[\w.]+=\w+)"', sbt)
    return flags


def _compile(root, key, sources, classpath, log_name):
    out = os.path.join(CACHE, key)
    if os.path.exists(os.path.join(out, "ok")):
        return os.path.join(out, "classes")
    tmp = out + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "classes"))
    args = os.path.join(tmp, "sources.txt")
    with open(args, "w") as f:
        f.write("\n".join(sources))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(spark_jars(root), "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d",
           os.path.join(tmp, "classes")]
    if classpath:
        cmd += ["-cp", classpath]
    with open(os.path.join(tmp, log_name), "w") as log:
        rc = subprocess.call(cmd + ["@" + args], stdout=log, stderr=subprocess.STDOUT)
    if rc != 0:
        with open(os.path.join(tmp, log_name)) as log:
            sys.stderr.write(log.read()[-4000:])
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit(f"compile failed: {log_name}")
    open(os.path.join(tmp, "ok"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return os.path.join(out, "classes")


def build(root):
    """Compile (or reuse) the program and the harness; return the classpath."""
    prog_src = [p for p in _files(root, "src/main") if p.endswith(".scala")]
    if not prog_src or not os.path.exists(os.path.join(root, "build.sbt")):
        raise SystemExit("no program sources: expected src/main/scala and build.sbt")
    prog_key = "program-" + _hash(prog_src + [os.path.join(root, "build.sbt")], root)
    prog = _compile(root, prog_key, prog_src, None, "program.log")
    harness_src = [p for p in _files(HERE, "harness/src") if p.endswith(".scala")]
    harness_key = "harness-" + _hash(harness_src, HERE, salt=prog_key)
    harness = _compile(root, harness_key, harness_src, prog, "harness.log")
    return os.pathsep.join([harness, prog, os.path.join(spark_jars(root), "*")])
