"""Build file of the benchmark: compiles the program (`src/main/scala`)
and the benchmark harness (`perfbench/harness`) with the Scala compiler
that ships in Spark's jars, into `$CARGO_TARGET_DIR/perfbench`
(default `.bench_build/perfbench`) under the checkout, and packs the
classes as `graft.jar`.

It then records a class-data-sharing archive (`app.jsa`) from one short
training run of the harness, so that every benchmark JVM maps the
classes of Spark and the program instead of loading them one by one.
This shortens the cold first set-up of each run (about 12 s to 6 s on a
4-core machine); the warm set-ups and the timed passes load no new
classes. Without the archive a run works the same, only slower.

Last, it computes the DuckDB oracle answer of every workload item (see
oracle.py) into `oracle/`.

A stamp of the source paths and contents skips all of this when nothing
changed. Run `python3 perfbench/build.py` to build by hand.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import tempfile
import zipfile

HEAP = "3g"
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]
# items of the training run: one of each kind of work the workloads do
TRAIN_ITEMS = "q_sort,q_sketch,d_dedup_minhash,cat_mv,cat_mv_lookup,fs_mv_stream"


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise BuildError("SPARK_HOME is not set and spark-submit is not on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars")
    if not os.path.isdir(jars):
        raise BuildError(f"no Spark jars directory: {jars}")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        raise BuildError("no java executable (JAVA_HOME or PATH)")
    return exe


def sources(root):
    main = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    if not main:
        raise BuildError(f"no program sources under {root}/src/main/scala")
    bench = sorted(glob.glob(os.path.join(root, "perfbench/harness/*.scala")))
    return main + bench


def stamp(root):
    """Hash of the source paths and contents, of this recipe and of the
    inputs and code of the oracle cache."""
    import oracle
    h = hashlib.sha256(oracle.code_key(root).encode())
    for p in sources(root):
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    for p in ("build.py", "gen.py", "workloads.json"):
        with open(os.path.join(root, "perfbench", p), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def harness_command(build, run_dir, args, record_archive=None):
    """The JVM command of one harness run whose warehouse, checkpoint
    root, local dir and `java.io.tmpdir` all live under `run_dir`."""
    jars = spark_jars()
    archive = os.path.join(build, "app.jsa")
    if record_archive:
        cds = [f"-XX:ArchiveClassesAtExit={record_archive}"]
    else:
        cds = [f"-XX:SharedArchiveFile={archive}"] if os.path.exists(archive) else []
    dirs = {d: os.path.join(run_dir, d) for d in ("warehouse", "tmp", "local")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    # -XX:-UsePerfData: the JVM would otherwise write to the system /tmp
    return [java(), *[f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS],
            f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", *cds,
            f"-Djava.io.tmpdir={dirs['tmp']}",
            f"-Dspark.sql.warehouse.dir={dirs['warehouse']}",
            f"-Dspark.local.dir={dirs['local']}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            "-cp", os.pathsep.join([os.path.join(build, "graft.jar"), os.path.join(jars, "*")]),
            "perfbench.Harness", *[f"{k}={v}" for k, v in args.items()]]


def _train(build):
    """Record the class-data-sharing archive from a short harness run on
    small generated inputs. Best effort: a failure leaves no archive."""
    import gen
    with tempfile.TemporaryDirectory(dir=build) as tmp:
        data = os.path.join(tmp, "data")
        gen.generate(data, seed=0, scale=0.02)
        os.makedirs(os.path.join(tmp, "verify"))
        archive = os.path.join(build, "app.jsa.tmp")
        cmd = harness_command(build, tmp, {
            "data": data, "cpus": 2, "items": TRAIN_ITEMS, "passes": 1, "trace": 1,
            "setup_reps": 1, "replay_source": 1, "verify": os.path.join(tmp, "verify"),
            "out": os.path.join(tmp, "record.json"), "catalog": ""}, record_archive=archive)
        res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if res.returncode == 0 and os.path.exists(archive):
            os.replace(archive, os.path.join(build, "app.jsa"))
        else:
            print("class-data-sharing archive not recorded:\n" + res.stdout[-2000:],
                  file=sys.stderr)


def _fill_oracle(build, root):
    """Compute the DuckDB oracle of every workload item once: the row
    content does not depend on the seed, so runs only read the cache
    (some oracles take a minute, more than a run may spend)."""
    import json
    import gen
    import oracle
    with open(os.path.join(root, "perfbench", "workloads.json")) as f:
        workloads = json.load(f)
    with tempfile.TemporaryDirectory(dir=build) as tmp:
        items = sorted({i for w in workloads.values() for i in w["items"]})
        path = os.path.join(tmp, "oracle_sql.json")
        res = subprocess.run(harness_command(build, tmp, {
            "items": ",".join(items), "oracle_sql": path}),
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if res.returncode != 0:
            raise BuildError("oracle SQL dump failed:\n" + res.stdout[-2000:])
        with open(path) as f:
            sql = json.load(f)
        for name, w in sorted(workloads.items()):
            data = os.path.join(tmp, name)
            gen.generate(data, seed=0, tables=w["tables"], replicas=w["replicas"])
            o = oracle.Oracle(root, data, gen.content_key(w["replicas"]),
                              os.path.join(build, "oracle"), os.cpu_count() or 1)
            for i in w["items"]:
                if i in sql:
                    o.reference(sql[i])
            o.close()


def _jar(classes, path):
    with zipfile.ZipFile(path + ".tmp", "w", zipfile.ZIP_STORED) as z:
        for d, _, files in sorted(os.walk(classes)):
            for f in sorted(files):
                p = os.path.join(d, f)
                z.write(p, os.path.relpath(p, classes))
    os.replace(path + ".tmp", path)


def ensure_built(root):
    """Compile, pack and train when the sources changed; return the
    build directory (holding `graft.jar` and, if recorded, `app.jsa`)."""
    srcs = sources(root)
    current = stamp(root)
    out = os.path.join(root, os.environ.get("CARGO_TARGET_DIR") or ".bench_build", "perfbench")
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == current:
        return out
    jars = spark_jars()
    compiler = [os.path.join(jars, j) for j in sorted(os.listdir(jars))
                if j.startswith(("scala-compiler-", "scala-library-", "scala-reflect-"))]
    if len(compiler) != 3:
        raise BuildError(f"Scala compiler jars not found in {jars}")
    if os.path.exists(stamp_file):
        os.remove(stamp_file)
    tmp = classes + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = [java(), "-Xmx2g", "-Xss8m", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-classpath", os.path.join(jars, "*")] + srcs
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("scalac failed:\n" + res.stdout[-4000:])
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    _jar(classes, os.path.join(out, "graft.jar"))
    if os.path.exists(os.path.join(out, "app.jsa")):
        os.remove(os.path.join(out, "app.jsa"))
    _train(out)
    shutil.rmtree(os.path.join(out, "oracle"), ignore_errors=True)
    _fill_oracle(out, root)
    with open(stamp_file, "w") as f:
        f.write(current)
    return out


if __name__ == "__main__":
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    try:
        print(ensure_built(root))
    except BuildError as e:
        sys.exit(f"build failed: {e}")
