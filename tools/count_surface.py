#!/usr/bin/env python3
"""Print the program's surface as one JSON line.

    python3 tools/count_surface.py [REPO_ROOT]

Nine counts over `src/main` (REPO_ROOT defaults to this file's parent repo):
  - scala_lines:         non-blank lines of the Scala sources;
  - options:             distinct `spark.graft.*` conf keys the sources name;
  - mains:               `def main` entry points;
  - session_builders:    `SparkSession.builder` occurrences. Every entry
                         point builds its session through `graft.GraftSession`,
                         so this reads 1;
  - kernel_name_lookups: `call_function("graft_...")` calls outside comments,
                         i.e. native kernels put into a plan by their SQL
                         name, which needs them registered on the session.
                         Operators use the typed `GraftFunctions` columns,
                         so this reads 0;
  - session_installs:    calls that change a session's functions, optimizer
                         rules or planner strategies (`GraftFunctions.register(`,
                         `GraftOptimizations.install(`, `addStrategy(`)
                         outside the files that define them
                         (`GraftFunctions.scala`, `DerivedPredicatePushdown.scala`,
                         `GraftSqlBridge.scala`). Only `TopK.perKey` adds its
                         strategy itself, so this reads 1;
  - stream_drivers:      `.foreachBatch` calls outside comments, i.e. code
                         that runs a streaming query itself. Every file-sink
                         stream runs through `StreamPipeline`'s one drain
                         helper and the replicator has its own, so this
                         reads 2;
  - inferring_reads:     `.read.parquet(` calls outside comments and outside
                         `Tables.scala`, i.e. parquet reads that infer the
                         schema with a Spark job on every call. Every read
                         goes through `Tables.parquet`, which memoizes the
                         inferred schema, so this reads 0;
  - in_place_appends:    `mode("append")` and `SaveMode.Append` outside
                         comments, i.e. writes that add files to a parquet
                         directory a reader may be listing. Every index
                         write is a fresh segment, published by one
                         manifest commit, so this reads 0.

A simplification is read as the before/after difference of these counts.
"""

import json
import os
import re
import sys

OPTION = re.compile(r"spark\.graft\.[A-Za-z0-9_.]*[A-Za-z0-9_]")
MAIN = re.compile(r"\bdef main\b")
BUILDER = re.compile(r"\bSparkSession\.builder\b")
KERNEL_BY_NAME = re.compile(r'\bcall_function\("graft_')
INSTALL = re.compile(
    r"\b(?:GraftFunctions\.register|GraftOptimizations\.install|addStrategy)\(")
INSTALL_HOMES = {"GraftFunctions.scala", "DerivedPredicatePushdown.scala",
                 "GraftSqlBridge.scala"}
FOREACH_BATCH = re.compile(r"\.foreachBatch\b")
INFERRING_READ = re.compile(r"\.read\.parquet\(")
READ_HOME = "Tables.scala"
IN_PLACE_APPEND = re.compile(r'mode\("append"\)|\bSaveMode\.Append\b')
COMMENT = re.compile(r"^\s*(?://|\*|/\*)")


def count(root):
    lines, mains, builders, options = 0, 0, 0, set()
    by_name, installs, drivers, reads, appends = 0, 0, 0, 0, 0
    for d, _, files in os.walk(os.path.join(root, "src", "main")):
        for f in files:
            if not f.endswith(".scala"):
                continue
            with open(os.path.join(d, f), encoding="utf-8") as fh:
                for line in fh:
                    if line.strip():
                        lines += 1
                    options.update(OPTION.findall(line))
                    mains += len(MAIN.findall(line))
                    builders += len(BUILDER.findall(line))
                    if COMMENT.match(line):
                        continue
                    by_name += len(KERNEL_BY_NAME.findall(line))
                    drivers += len(FOREACH_BATCH.findall(line))
                    appends += len(IN_PLACE_APPEND.findall(line))
                    if f != READ_HOME:
                        reads += len(INFERRING_READ.findall(line))
                    if f not in INSTALL_HOMES:
                        installs += len(INSTALL.findall(line))
    return {"scala_lines": lines, "options": len(options), "mains": mains,
            "session_builders": builders, "kernel_name_lookups": by_name,
            "session_installs": installs, "stream_drivers": drivers,
            "inferring_reads": reads, "in_place_appends": appends}


if __name__ == "__main__":
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    print(json.dumps(count(sys.argv[1] if len(sys.argv) > 1 else here)))
