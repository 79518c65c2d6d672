"""Build step: compile graft's main sources together with the benchmark's
Scala files into one class directory, with the Scala compiler that ships
in the Spark distribution (the same jars graft's own build compiles
against). The output is keyed by a hash of every source, so a checkout
compiles once and later runs reuse it.
"""
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            sys.exit("perfbench: no SPARK_HOME and no spark-submit on PATH")
        home = str(Path(submit).resolve().parent.parent)
    jars = Path(home) / "jars"
    if not jars.is_dir():
        sys.exit(f"perfbench: {jars} does not exist")
    return jars


def sources(root):
    here = Path(__file__).resolve().parent
    main = root / "src" / "main" / "scala"
    if not main.is_dir():
        sys.exit(f"perfbench: graft sources not found under {main}")
    return sorted(main.rglob("*.scala")) + sorted((here / "scala").rglob("*.scala"))


def build(root, out_root):
    """Compile if needed; returns (build directory holding perfbench.jar,
    whether it compiled)."""
    srcs = sources(root)
    jars = spark_jars()
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(root)).encode())
        h.update(p.read_bytes())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    out = Path(out_root) / "classes" / h.hexdigest()[:16]
    if (out / "_OK").exists():
        return out, False
    if out.parent.exists():  # classes and archives of older sources
        shutil.rmtree(out.parent)
    out.mkdir(parents=True)
    cp = f"{jars}/*"
    argfile = out / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in srcs))
    subprocess.run(["java", "-Xmx3g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
                    "-nowarn", "-d", str(out), "-classpath", cp, f"@{argfile}"],
                   check=True, stdout=sys.stderr)
    # one jar, so the JVM can map the classes from a class-data-sharing archive
    with zipfile.ZipFile(out / "perfbench.jar", "w") as jar:
        for f in sorted(out.rglob("*.class")):
            jar.write(f, f.relative_to(out))
    (out / "_OK").touch()
    return out, True


if __name__ == "__main__":
    root = Path(__file__).resolve().parent.parent
    print(build(root, root / ".bench_build")[0])
