#!/usr/bin/env python3
"""Derive degenerate copies of a fixture for the IVF/similarity family:
the embeddings table empty (schema kept), a single vector (vec_id 0),
or every row duplicated; every other table is symlinked unchanged.

    python3 tools/degenerate_fixtures.py <sfDir> <outRoot>

writes <outRoot>/{empty,single,dup}/. Then, per fixture:

    sbt "runMain graft.Verify <outRoot>/dup /tmp/out_dup q54_sim_ivf ..."
    python3 tools/check_oracle.py <outRoot>/dup /tmp/out_dup q54_sim_ivf ...
"""
import os
import sys

import duckdb

VARIANTS = {
    "empty": "SELECT * FROM src WHERE false",
    "single": "SELECT * FROM src WHERE vec_id = 0",
    "dup": "SELECT * FROM (SELECT * FROM src UNION ALL SELECT * FROM src) ORDER BY vec_id",
}


def main(sf_dir, out_root):
    con = duckdb.connect()
    con.sql(f"CREATE VIEW src AS SELECT * FROM '{os.path.join(sf_dir, 'embeddings.parquet')}'")
    for name, sql in VARIANTS.items():
        out = os.path.join(out_root, name)
        os.makedirs(out, exist_ok=True)
        for f in sorted(os.listdir(sf_dir)):
            link = os.path.join(out, f)
            if f.endswith(".parquet") and f != "embeddings.parquet" and not os.path.lexists(link):
                os.symlink(os.path.abspath(os.path.join(sf_dir, f)), link)
        con.sql(f"COPY ({sql}) TO '{os.path.join(out, 'embeddings.parquet')}' (FORMAT parquet)")
        n, ids = con.sql(f"SELECT count(*), count(DISTINCT vec_id) FROM '{os.path.join(out, 'embeddings.parquet')}'").fetchone()
        print(f"{out}: {n} embeddings rows, {ids} distinct vec_id")


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    main(sys.argv[1], sys.argv[2])
