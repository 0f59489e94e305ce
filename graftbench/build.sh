#!/usr/bin/env bash
# Compile graft (src/main) and the benchmark harness with the Scala
# compiler that ships in the Spark jar directory. Output lands under
# graftbench/out/<hash of the sources>, so a tree builds once and a
# changed tree builds afresh. Prints the output directory on stdout.
#
#   bash graftbench/build.sh            # from the repository root
set -euo pipefail
here="$(cd "$(dirname "$0")" && pwd)"
root="$(cd "$here/.." && pwd)"
# the jar directory graft's own sbt build compiles against, unless given
jars="${SPARK_JARS:-$(sed -n 's/^unmanagedBase := file("\(.*\)")$/\1/p' "$root/build.sbt" 2>/dev/null)}"
main_src="$root/src/main/scala"
bench_src="$here/src"
if [ ! -d "$main_src/graft" ]; then
  echo "build.sh: no graft sources at $main_src" >&2
  exit 2
fi
compiler=("$jars"/scala-compiler-2.*.jar)
library=("$jars"/scala-library-2.*.jar)
reflect=("$jars"/scala-reflect-2.*.jar)
if [ ! -f "${compiler[0]}" ]; then
  echo "build.sh: no Scala compiler in $jars" >&2
  exit 2
fi
key="$( (find "$main_src" "$root/src/main/resources" "$bench_src" -type f -print0 \
  | sort -z | xargs -0 sha1sum; sha1sum "$here/build.sh") | sha1sum | cut -c1-16)"
out="$here/out/$key"
if [ -f "$out/BUILD_OK" ]; then
  echo "$out"
  exit 0
fi
rm -rf "$here/out"
mkdir -p "$out/classes"
cp -r "$root/src/main/resources/." "$out/classes/"
scalac() {
  java -Xss8m -Xmx2g -cp "${compiler[0]}:${library[0]}:${reflect[0]}" \
    scala.tools.nsc.Main -nowarn -deprecation:false -classpath "$jars/*:$out/classes" \
    -d "$out/classes" "$@"
}
echo "build.sh: compiling graft" >&2
scalac $(find "$main_src" -name '*.scala' | sort)
echo "build.sh: compiling the harness" >&2
scalac $(find "$bench_src" -name '*.scala' | sort)
touch "$out/BUILD_OK"
echo "$out"
