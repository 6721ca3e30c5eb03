"""Build graft and the benchmark from source.

Compiles every Scala file under ``src/main/scala``, then the benchmark's
own sources under ``perfbench/src``, with the Scala compiler that ships
in the Spark distribution (``$SPARK_HOME/jars``, else the Spark jar
directory ``build.sbt`` compiles against). Output goes to ``.bench_build`` in the
checkout: graft into ``graft-<hash>``, the benchmark into
``perfbench-<hash>``, and both as jars plus a class-data-sharing archive
into ``app-<hash>``, each keyed by the content of its inputs, so an
unchanged tree is built once and reused.

    python3 perfbench/build.py        # prints the app directory
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent


class BuildError(Exception):
    pass


def spark_jars() -> Path:
    """`$SPARK_HOME/jars`, else the jar directory the sbt build compiles
    against (its `unmanagedBase`)."""
    if "SPARK_HOME" in os.environ:
        return Path(os.environ["SPARK_HOME"]) / "jars"
    sbt = Path.cwd() / "build.sbt"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text()) if sbt.exists() else None
    if not m:
        raise BuildError("set SPARK_HOME: build.sbt names no unmanagedBase Spark jar directory")
    return Path(m.group(1))


def _sources(root: Path):
    graft = sorted((root / "src" / "main" / "scala").rglob("*.scala"))
    bench = sorted((HERE / "src").rglob("*.scala"))
    return graft, bench


def _compile(jars: Path, out: Path, sources, classpath) -> None:
    """scalac `sources` into `out` unless already there; atomic via rename."""
    if (out / ".built").exists():
        return
    tmp = out.with_name(out.name + f".tmp{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = tmp / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in sources) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-cp", str(jars / "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-classpath",
           os.pathsep.join(map(str, classpath)), "-d", str(tmp), f"@{argfile}"]
    print(f"# compiling {len(sources)} sources into {out.name}", file=sys.stderr)
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("scalac failed:\n" + res.stdout[-4000:])
    argfile.unlink()
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    (out / ".built").touch()


def _digest(root: Path, files, salt: str = "") -> str:
    h = hashlib.sha256(salt.encode())
    for p in files:
        h.update(str(p.relative_to(root) if p.is_relative_to(root) else p.name).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


# what spark-submit adds on JDK 17 (JavaModuleOptions)
ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
        "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
        "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def java_cmd(app: Path, work: Path, main: str, args, share="SharedArchiveFile"):
    """The JVM command line for `main` from a built `app` directory; its
    class-data archive is used, or with `share="ArchiveClassesAtExit"`
    written."""
    jars = [app / "perfbench.jar", app / "graft.jar", app / "resources.jar"]
    return (["java", "-Xmx3g", "-XX:-UsePerfData", f"-XX:{share}={app / 'app.jsa'}",
             f"-Djava.io.tmpdir={work / 'tmp'}",
             *ADD_OPENS,
             "-cp", os.pathsep.join([*map(str, jars), str(spark_jars() / "*")]), main, *args])


def _package(app: Path, dirs) -> None:
    """Jar the class and resource directories (a class-data archive takes
    jars only), then record the Spark classes a small round trip loads
    into a class-data-sharing archive, which cuts JVM and Spark start-up
    by about 5 s a run."""
    if (app / ".built").exists():
        return
    tmp = app.with_name(app.name + f".tmp{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    for name, d in dirs.items():
        res = subprocess.run(["jar", "cf", str(tmp / f"{name}.jar"), "-C", str(d), "."],
                             stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if res.returncode != 0:
            shutil.rmtree(tmp, ignore_errors=True)
            raise BuildError(f"jar {name} failed:\n{res.stdout[-2000:]}")
    # the archive is only valid for the exact class path it was recorded
    # with, so record it in place
    shutil.rmtree(app, ignore_errors=True)
    tmp.rename(app)
    work = app / "work"
    (work / "tmp").mkdir(parents=True)
    print(f"# recording class-data archive for {app.name}", file=sys.stderr)
    res = subprocess.run(java_cmd(app, work, "perfbench.Main", ["--archive", "--work", str(work)],
                                  share="ArchiveClassesAtExit"),
                         stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    shutil.rmtree(work, ignore_errors=True)
    if res.returncode != 0 or not (app / "app.jsa").exists():
        shutil.rmtree(app, ignore_errors=True)
        raise BuildError("recording the class-data archive failed:\n" + res.stdout[-2000:])
    (app / ".built").touch()


def build(root: Path) -> Path:
    """Compile graft, then the benchmark against it, then package both;
    each step only when its inputs changed. Returns the app directory."""
    graft, bench = _sources(root)
    if not graft:
        raise BuildError(f"no graft sources under {root / 'src' / 'main' / 'scala'}")
    jars = spark_jars()
    if not any(jars.glob("scala-compiler-*.jar")):
        raise BuildError(f"no Scala compiler jar in {jars}; set SPARK_HOME")
    resources = root / "src" / "main" / "resources"
    graft_key = _digest(root, graft)
    bench_key = _digest(root, bench, graft_key)
    app_key = _digest(root, sorted(p for p in resources.rglob("*") if p.is_file()),
                      bench_key + _digest(root, [Path(__file__).resolve()]))
    graft_out = root / ".bench_build" / f"graft-{graft_key}"
    bench_out = root / ".bench_build" / f"perfbench-{bench_key}"
    app = root / ".bench_build" / f"app-{app_key}"
    _compile(jars, graft_out, graft, [])
    _compile(jars, bench_out, bench, [graft_out])
    _package(app, {"graft": graft_out, "perfbench": bench_out, "resources": resources})
    return app


if __name__ == "__main__":
    try:
        print(build(Path.cwd().resolve()))
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
