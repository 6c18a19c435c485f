"""Build the spark-submit deployment artifact (north-star shape:
"ships via spark-submit --py-files to run at N and 4N executors").

Produces, under --out (default dist/):
  rust_chunking_spark.zip   the package, pure .py files, zipimport-safe
  submit_ingest.py          thin driver script for spark-submit (the CLI
                            module itself cannot be passed to spark-submit,
                            which takes a script path, not -m)

Cluster usage:
  spark-submit --master <cluster> \
      --py-files dist/rust_chunking_spark.zip \
      dist/submit_ingest.py --wal <wal_dir> --lake <lake_dir>

The zip is importable without extraction (no binary/data resources in the
package — the kernel LUTs are .py constants), verified by
tests/test_packaging.py which imports kernels from the zip in a clean
subprocess.
"""

from __future__ import annotations

import argparse
import os
import zipfile

SUBMIT_STUB = '''\
"""spark-submit driver script; the engine lives in the --py-files zip."""
import sys

from rust_chunking_spark.ingest_cli import main

if __name__ == "__main__":
    sys.exit(main())
'''


def build(out_dir: str) -> tuple[str, str]:
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pkg = os.path.join(repo, "rust_chunking_spark")
    os.makedirs(out_dir, exist_ok=True)
    zip_path = os.path.join(out_dir, "rust_chunking_spark.zip")
    with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_DEFLATED) as z:
        for root, _dirs, files in os.walk(pkg):
            if "__pycache__" in root:
                continue
            for f in sorted(files):
                if not f.endswith(".py"):
                    continue
                full = os.path.join(root, f)
                z.write(full, os.path.relpath(full, repo))
    stub_path = os.path.join(out_dir, "submit_ingest.py")
    with open(stub_path, "w") as f:
        f.write(SUBMIT_STUB)
    return zip_path, stub_path


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--out", default="dist")
    args = ap.parse_args(argv)
    zip_path, stub_path = build(args.out)
    print(f"built {zip_path} ({os.path.getsize(zip_path)} bytes)")
    print(f"built {stub_path}")
    print("run:  spark-submit --py-files", zip_path, stub_path,
          "--wal WAL --lake LAKE")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
