#!/bin/sh
# Python launcher for get_spark sessions (see session.py). Spark starts
# every Python process of a session as `<pythonExec> <args>` with
# PYTHONPATH=<pyspark.zip>:<py4j zip>:<spark-core jar>:...; this puts
# the package root first, drops every jar and the zips under
# $SPARK_HOME/python/lib, and runs the interpreter pyspark would have.
set -f
path=$(cd "${0%/*}/.." && pwd)
IFS=:
for p in $PYTHONPATH; do
    case $p in
        *.jar) continue ;;
        */python/lib/*.zip) [ "${p%/python/lib/*}" = "$SPARK_HOME" ] && continue ;;
    esac
    path=$path:$p
done
export PYTHONPATH="$path"
exec "${PYSPARK_PYTHON:-python3}" "$@"
