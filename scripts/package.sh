#!/bin/sh
# Package the library for spark-submit --py-files.
# Usage: scripts/package.sh [OUTPUT_ZIP]   (default: dist/mircv_project_spark.zip)
set -e
out="${1:-dist/mircv_project_spark.zip}"
case "$out" in
    /*) ;;
    *) [ -n "$1" ] && out="$(pwd)/$out" ;;
esac
cd "$(dirname "$0")/.."
mkdir -p "$(dirname "$out")"
rm -f "$out"
zip -qr "$out" mircv_project_spark -x "*/__pycache__/*"
echo "$out"
