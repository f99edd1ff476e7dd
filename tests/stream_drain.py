"""Feed NDJSON files to a streaming query and drain it to a memory sink.

The streaming tests share this edge: each builds its own rows, writes
them as files the file source reads in list order, and runs a query to
the end of its input with an ``availableNow`` trigger.
"""

from __future__ import annotations

import json
import os
import time


def write_files(src, files, line=lambda row: row) -> str:
    """Write each ``(file name, rows)`` under the directory ``src`` as
    NDJSON, one ``line(row)`` object per line, with mtimes in list
    order: the file source reads the oldest mtime first. Returns ``src``
    as a string."""
    src.mkdir(parents=True, exist_ok=True)
    now = time.time()
    for i, (fname, rows) in enumerate(files):
        p = src / fname
        with open(p, "w") as fh:
            fh.writelines(json.dumps(line(row)) + "\n" for row in rows)
        t = now - 100 + i * 10
        os.utime(p, (t, t))
    return str(src)


def drain(df, checkpoint, name, output_mode="append") -> list:
    """Run the streaming ``df`` into the memory table ``name`` until its
    input is consumed; returns the table's rows."""
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", str(checkpoint))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return df.sparkSession.sql(f"SELECT * FROM {name}").collect()
