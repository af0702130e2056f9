#!/usr/bin/env bash
# Counts the chmod, stat and ls processes a command starts.
#
#   tools/forkcount.sh <command> [args...]
#
# Puts logging wrappers for the three commands first on PATH, runs the
# command (its exit status is kept), then prints on stderr the number
# of forks by command and by path pattern: the last argument of each
# call cut to its last two path components, uuids turned to <uuid> and
# digit runs to N. These are the commands Hadoop's local
# file system runs without its native library (chmod per created file,
# stat and ls for a file's status).
#
# Example, one benchmark run:
#   tools/forkcount.sh python3 perfbench/run.py --workload curate_text --seed 1 --seconds 17
set -u
if [ $# -eq 0 ]; then
  echo "usage: $0 <command> [args...]" >&2
  exit 2
fi

wrap_dir=$(mktemp -d "${TMPDIR:-/tmp}/forkcount.XXXXXX")
trap 'rm -rf "$wrap_dir"' EXIT
log="$wrap_dir/forks.log"
: > "$log"
for cmd in chmod stat ls; do
  real=$(command -v "$cmd") || { echo "forkcount: no $cmd on PATH" >&2; exit 2; }
  cat > "$wrap_dir/$cmd" <<EOF
#!/bin/sh
for last; do :; done
printf '%s\t%s\n' "$cmd" "\$last" >> "$log"
exec "$real" "\$@"
EOF
  chmod +x "$wrap_dir/$cmd"
done

PATH="$wrap_dir:$PATH" "$@"
status=$?

{
  echo "forkcount: $(wc -l < "$log") forks"
  echo "by command:"
  cut -f1 "$log" | sort | uniq -c | sort -rn
  echo "by path pattern:"
  awk -F'\t' '{
      n = split($2, parts, "/"); p = parts[n]
      if (n > 1) p = parts[n - 1] "/" p
      print $1 " " p
    }' "$log" \
    | sed -E -e 's/[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}/<uuid>/g' \
        -e 's/[0-9]+/N/g' \
    | sort | uniq -c | sort -rn
} >&2
exit $status
