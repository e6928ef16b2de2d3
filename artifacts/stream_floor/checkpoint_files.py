# List the files one streaming dedup run leaves in its checkpoint under one
# checkpoint file manager (local[2], 2 state partitions).
# Usage: python3 checkpoint_files.py <default|filesystem> <sf dir>
import os, sys, tempfile, time
from pyspark.sql import SparkSession, functions as F
mgr = sys.argv[1]
root = tempfile.mkdtemp(prefix=f"cp_{mgr}_")
b = (SparkSession.builder.master("local[2]").config("spark.ui.enabled", "false")
     .config("spark.sql.shuffle.partitions", "2")
     .config("spark.sql.artifact.isolation.enabled", "false"))
if mgr == "filesystem":
    b = b.config("spark.sql.streaming.checkpointFileManagerClass",
                 "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager")
s = b.getOrCreate(); s.sparkContext.setLogLevel("ERROR")
src = sys.argv[2]
schema = s.read.parquet(f"{src}/documents.parquet").schema
df = (s.readStream.schema(schema).option("pathGlobFilter", "documents*.parquet").parquet(src)
      .select(F.md5(F.col("text").cast("binary")).alias("h")).dropDuplicates(["h"]))
t = time.time()
q = (df.writeStream.outputMode("append").format("parquet").option("path", f"{root}/out")
     .option("checkpointLocation", f"{root}/cp").trigger(availableNow=True).start())
q.awaitTermination()
print(f"manager={mgr} conf={s.conf.get('spark.sql.streaming.checkpointFileManagerClass', '(default)')} "
      f"fileChecksum={s.conf.get('spark.sql.streaming.checkpoint.fileChecksum.enabled')} run_s={time.time()-t:.2f}")
for d, _, fs in sorted(os.walk(f"{root}/cp")):
    for f in sorted(fs):
        print(os.path.relpath(os.path.join(d, f), root))
s.stop()
