"""Compile the engine and the benchmark's JVM side from source.

The engine is compiled from the repository's ``src/main/scala`` against
the jars its own ``build.sbt`` names (``unmanagedBase``), with the Scala
compiler that ships among those jars, so no build tool and no network
is needed. Class files go under the build directory, one tree per
source set, each rebuilt only when a hash of its sources changes, and
packed into one jar per tree: the JVM's class-data sharing archives
only classes that come from jars (see `cds_flags`).
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile


def spark_jars(root):
    """The jar directory the project's build.sbt declares."""
    sbt = os.path.join(root, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    raise SystemExit("perfbench: no Spark jar directory (build.sbt unmanagedBase "
                     "or SPARK_HOME/jars)")


def add_opens(root):
    """The --add-opens flags the project's build.sbt passes to its JVMs."""
    text = open(os.path.join(root, "build.sbt")).read()
    block = re.search(r"val jdk17AddOpens = Seq\((.*?)\)\.flatMap", text, re.S)
    pkgs = re.findall(r'"([\w./]+)"', block.group(1)) if block else []
    return [a for p in pkgs for a in ("--add-opens", f"{p}=ALL-UNNAMED")]


def _sources(d):
    return sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))


def _digest(files, base, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(os.path.relpath(f, base).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def _pack(class_dir, jar):
    tmp = jar + ".tmp"
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_STORED) as z:
        for r, ds, fs in os.walk(class_dir):
            ds.sort()
            for f in sorted(fs):
                full = os.path.join(r, f)
                z.write(full, os.path.relpath(full, class_dir))
    os.replace(tmp, jar)


def compile_tree(name, src_dir, out_root, classpath, jars, depends=""):
    """Compile `src_dir` into out_root/name.jar unless its stamp is
    current; returns (jar, stamp). `depends` is the stamp of the trees
    on `classpath`, so a changed dependency recompiles this tree too."""
    files = _sources(src_dir)
    if not files:
        raise SystemExit(f"perfbench: no Scala sources under {src_dir}")
    out = os.path.join(out_root, name)
    jar = out + ".jar"
    stamp = os.path.join(out_root, f"{name}.stamp")
    digest = _digest(files, src_dir, depends)
    if os.path.exists(stamp) and open(stamp).read() == digest and os.path.exists(jar):
        return jar, digest
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    cp = ":".join(classpath + [os.path.join(jars, "*")])
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-classpath", cp,
           "-d", out] + files
    print(f"perfbench: compiling {len(files)} files of {name}", file=sys.stderr)
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit(f"perfbench: compiling {name} failed")
    _pack(out, jar)
    with open(stamp, "w") as f:
        f.write(digest)
    return jar, digest


def build(root, bench_dir, out_root):
    """Jars of the engine and the benchmark, and the Spark jar dir."""
    jars = spark_jars(root)
    os.makedirs(out_root, exist_ok=True)
    engine, stamp = compile_tree("engine", os.path.join(root, "src", "main", "scala"),
                                 out_root, [], jars)
    bench, _ = compile_tree("bench", os.path.join(bench_dir, "scala"), out_root,
                            [engine], jars, depends=stamp)
    return [engine, bench], jars


def cds_flags(out_root, classes):
    """JVM flags for a class-data sharing archive, and the path the run
    writes it to (None when it maps one).

    Spark loads tens of thousands of classes; mapping them parsed and
    verified from an archive cuts JVM start and first-use class loading
    by several seconds a run. The first run after a build writes the
    archive of the classes it loaded when its JVM exits (that run loads
    them the slow way); every later run, of any workload, maps it and
    loads the classes it lacks from the jars. One archive, not one per
    workload, because writing one costs its run about 30 s. The JVM
    ignores an archive whose jars have changed since, so the name
    carries the jars' sizes and times, and a rebuild writes a new one."""
    key = hashlib.sha256(repr([(j, os.stat(j).st_size, os.stat(j).st_mtime_ns)
                               for j in classes]).encode()).hexdigest()
    archive = os.path.join(out_root, f"cds-{key[:16]}.jsa")
    if os.path.exists(archive):
        return [f"-XX:SharedArchiveFile={archive}"], None
    for old in glob.glob(os.path.join(out_root, "cds-*.jsa*")):
        os.remove(old)
    return [f"-XX:ArchiveClassesAtExit={archive}.tmp"], archive
