"""Driver-side reads of an index's part files with pyarrow.

A search needs three small reads before it can score: the query terms'
rows of the segment dictionaries (for a multi-term query, the term
ranges of its prefix windows), the tombstone generations, and (to
open a warm session) the dictionary row count and df map. A small
batch then scores on the driver over its term-pruned postings, a
fourth read. Through Spark each read is a job (50-80 ms plus planning
on a 4-core box); pyarrow reads the same Spark-written part files on
the driver in a few ms and launches no job.

Every read takes OPEN part files: `open_parts` maps each file once
(`pq.ParquetFile(pa.memory_map(f))`, footer parsed at open) and the
reader that pinned them (a wand.Snapshot, a session) keeps the handles
until it is closed, Lucene's MMapDirectory reader over one commit. On
POSIX a mapped file stays readable after a merge removes it, so a
pinned reader survives the merge; the costs are one file descriptor
per part file while the reader is open, and a removed file's disk
space comes back only when its last reader closes. Only local table
directories qualify: `open_parts` returns None for any other path (an
object-store URI), and callers keep their Spark read.
"""

from __future__ import annotations

import bisect
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq


def part_files(*dirs: str) -> list[str] | None:
    """The parquet part files of the table directories `dirs`, in
    order, or None when one of them is not a local directory (Spark's
    `_SUCCESS` and `.crc` side files are skipped)."""
    out: list[str] = []
    for d in dirs:
        if not os.path.isdir(d):
            return None
        out += [
            os.path.join(d, f)
            for f in sorted(os.listdir(d))
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        ]
    return out


def open_parts(*dirs: str) -> list[pq.ParquetFile] | None:
    """The part files of the table directories `dirs` (part_files),
    each memory-mapped and opened once, or None when one of them is not
    a local directory. close_parts releases them; dropping the last
    reference does too."""
    files = part_files(*dirs)
    if files is None:
        return None
    return [pq.ParquetFile(pa.memory_map(f)) for f in files]


def close_parts(parts: list[pq.ParquetFile] | None) -> None:
    """Unmap and close `parts` (open_parts); closing twice is a no-op."""
    for pf in parts or []:
        pf.close(force=True)


def read_columns(pf: pq.ParquetFile) -> list[str]:
    """The column names in the footer schema of the part file `pf`."""
    return pf.schema_arrow.names


def _row_groups(pf: pq.ParquetFile, column: str, keys: list[str]) -> list[int]:
    """Row groups of `pf` whose [min, max] statistics on `column` hold
    one of the sorted `keys`. A row group without statistics is kept."""
    ci = pf.schema_arrow.get_field_index(column)
    keep = []
    for i in range(pf.metadata.num_row_groups):
        st = pf.metadata.row_group(i).column(ci).statistics
        if st is not None and st.has_min_max:
            j = bisect.bisect_left(keys, st.min)
            if j == len(keys) or keys[j] > st.max:
                continue
        keep.append(i)
    return keep


def _term_rows(
    parts: list[pq.ParquetFile], keys: list[str],
    columns: list[str] | None = None,
) -> list[pa.Table]:
    """The rows of the open part files `parts` whose `term` is one of
    the sorted unique `keys`, one table per file that holds any: only
    the row groups whose `term` statistics can hold a key are read
    (_row_groups), then filtered on `term`."""
    value_set = pa.array(keys, pa.string())
    out = []
    for pf in parts:
        rgs = _row_groups(pf, "term", keys)
        if not rgs:
            continue
        t = pf.read_row_groups(rgs, columns=columns)
        out.append(t.filter(pc.is_in(t["term"], value_set=value_set)))
    return out


def read_df(parts: list[pq.ParquetFile], terms: list[str]) -> dict[str, int]:
    """{term: df} for the dictionary terms among `terms`, summed over
    the (term, df) part files `parts` (segment dictionaries repeat a
    term once per segment; segments are doc-disjoint). A dictionary
    written sorted by term has narrow row groups, so their statistics
    skip every row group that cannot hold a query term; an unsorted one
    is read whole, with the same result."""
    keys = sorted(set(terms))
    out: dict[str, int] = {}
    if not keys:
        return out
    for t in _term_rows(parts, keys, ["term", "df"]):
        for term, df in zip(t["term"].to_pylist(), t["df"].to_pylist()):
            out[term] = out.get(term, 0) + int(df)
    return out


def read_range_df(
    parts: list[pq.ParquetFile], ranges: list[tuple[str, str | None]]
) -> dict[str, int]:
    """{term: df} for every dictionary term in one of the half-open
    `ranges` [lo, ub) (ub None: no upper bound), summed over the (term,
    df) part files `parts`: the prefix windows of a multi-term
    expansion. Only the row groups whose `term` [min, max] statistics
    overlap a range are read (a row group without statistics is kept),
    then filtered on the ranges."""
    out: dict[str, int] = {}
    if not ranges:
        return out
    for pf in parts:
        ci = pf.schema_arrow.get_field_index("term")
        rgs = []
        for i in range(pf.metadata.num_row_groups):
            st = pf.metadata.row_group(i).column(ci).statistics
            if st is None or not st.has_min_max or any(
                lo <= st.max and (ub is None or ub > st.min)
                for lo, ub in ranges
            ):
                rgs.append(i)
        if not rgs:
            continue
        t = pf.read_row_groups(rgs, columns=["term", "df"])
        mask = None
        for lo, ub in ranges:
            m = pc.greater_equal(t["term"], lo)
            if ub is not None:
                m = pc.and_(m, pc.less(t["term"], ub))
            mask = m if mask is None else pc.or_(mask, m)
        t = t.filter(mask)
        for term, df in zip(t["term"].to_pylist(), t["df"].to_pylist()):
            out[term] = out.get(term, 0) + int(df)
    return out


def read_postings(
    parts: list[pq.ParquetFile], terms: list[str]
) -> pd.DataFrame:
    """The posting-block rows of `terms` in the postings part files
    `parts`, every column, as `toPandas` returns them from a Spark scan
    of the same files filtered on `term` (row order aside). Like read_df
    it skips the row groups whose `term` statistics hold no query term:
    postings.encode_tf_rows writes each part file sorted by term."""
    tables = _term_rows(parts, sorted(set(terms)))
    if not tables:
        return parts[0].schema_arrow.empty_table().to_pandas()
    return pa.concat_tables(tables).to_pandas()


def read_df_map(
    parts: list[pq.ParquetFile], max_rows: int | None
) -> dict[str, int] | None:
    """The whole {term: df} of the (term, df) part files `parts`, df
    summed per term, or None when they hold more than `max_rows` rows
    (counted from the footers, before any data is read)."""
    if max_rows is not None:
        if sum(pf.metadata.num_rows for pf in parts) > max_rows:
            return None
    if not parts:
        return {}
    t = pa.concat_tables([pf.read(columns=["term", "df"]) for pf in parts])
    agg = t.group_by("term").aggregate([("df", "sum")])
    return dict(zip(agg["term"].to_pylist(), agg["df_sum"].to_pylist()))


def read_doc_ids(parts: list[pq.ParquetFile]) -> np.ndarray | None:
    """The `doc_id` column of the part files `parts` as a sorted unique
    int64 array, or None when they hold no row."""
    cols = [pf.read(columns=["doc_id"])["doc_id"].to_numpy() for pf in parts]
    arr = np.concatenate(cols).astype(np.int64) if cols else np.empty(0)
    return np.unique(arr) if arr.size else None
