import java.io.IOException;
import java.lang.management.GarbageCollectorMXBean;
import java.lang.management.ManagementFactory;
import java.nio.charset.StandardCharsets;
import java.nio.file.Files;
import java.nio.file.Path;
import java.nio.file.Paths;
import java.nio.file.StandardCopyOption;
import java.security.MessageDigest;
import java.util.ArrayList;
import java.util.HashMap;
import java.util.LinkedHashMap;
import java.util.List;
import java.util.Map;
import java.util.stream.Stream;

import org.apache.spark.scheduler.SparkListener;
import org.apache.spark.scheduler.SparkListenerJobStart;
import org.apache.spark.scheduler.SparkListenerStageCompleted;
import org.apache.spark.scheduler.SparkListenerTaskEnd;
import org.apache.spark.sql.Dataset;
import org.apache.spark.sql.Row;
import org.apache.spark.sql.SparkSession;
import org.apache.spark.sql.types.StructType;

/**
 * Closed-loop client for one benchmark workload: one client, one JVM,
 * calling graft's public entry points from outside the program.
 *
 * <p>Set-up builds the session, resolves the ten gate tables twice
 * (cold, then memo hit) when the workload reads them, and runs the
 * warm-up. The timed window then repeats whole rounds of the same
 * operations until the program has been busy for {@code --seconds},
 * and records each round's wall time. Work the benchmark does for its
 * own checks (hashing a result, copying import outputs aside) is timed
 * and kept out of both set-up and the window.
 *
 * <p>With {@code --trace 1} a listener on Spark's public listener bus
 * counts jobs, stages and tasks and sums task metrics per layer call;
 * the bus is drained between calls, outside the timers. With
 * {@code --trace 0} no listener is registered.
 *
 * <p>Writes one JSON record to {@code --out}; run.py turns it into
 * metrics after checking every result.
 */
public final class Harness {

  /** Listener totals for one layer call. */
  static final class Bucket {
    long jobs, stages, tasks, cpuNs, runMs, gcMs, shuffleRead, shuffleWrite, spill, output;
    final List<long[]> taskSpans = new ArrayList<>();

    void add(Bucket o) {
      jobs += o.jobs; stages += o.stages; tasks += o.tasks; cpuNs += o.cpuNs;
      runMs += o.runMs; gcMs += o.gcMs; shuffleRead += o.shuffleRead;
      shuffleWrite += o.shuffleWrite; spill += o.spill; output += o.output;
    }

    /** Wall time in [from, to] (epoch ms) during which no task ran. */
    long noTaskMs(long from, long to) {
      taskSpans.sort((a, b) -> Long.compare(a[0], b[0]));
      long busy = 0, curS = -1, curE = -1;
      for (long[] s : taskSpans) {
        long a = Math.max(s[0], from), b = Math.min(s[1], to);
        if (b <= a) continue;
        if (a > curE) { busy += curE - curS; curS = a; curE = b; }
        else curE = Math.max(curE, b);
      }
      busy += curE - curS;
      return Math.max(0, (to - from) - busy);
    }
  }

  static final class Tracer extends SparkListener {
    private Bucket cur = new Bucket();
    private final SparkSession spark;

    Tracer(SparkSession spark) { this.spark = spark; }

    @Override public synchronized void onJobStart(SparkListenerJobStart e) { cur.jobs++; }
    @Override public synchronized void onStageCompleted(SparkListenerStageCompleted e) { cur.stages++; }
    @Override public synchronized void onTaskEnd(SparkListenerTaskEnd e) {
      cur.tasks++;
      cur.taskSpans.add(new long[] {e.taskInfo().launchTime(), e.taskInfo().finishTime()});
      var m = e.taskMetrics();
      if (m == null) return;
      cur.cpuNs += m.executorCpuTime();
      cur.runMs += m.executorRunTime();
      cur.gcMs += m.jvmGCTime();
      cur.shuffleRead += m.shuffleReadMetrics().totalBytesRead();
      cur.shuffleWrite += m.shuffleWriteMetrics().bytesWritten();
      cur.spill += m.memoryBytesSpilled() + m.diskBytesSpilled();
      cur.output += m.outputMetrics().bytesWritten();
    }

    /** Waits until every event posted so far is delivered, then hands
     *  back what was counted since the last call. */
    Bucket take() throws Exception {
      spark.sparkContext().listenerBus().waitUntilEmpty();
      synchronized (this) {
        Bucket b = cur;
        cur = new Bucket();
        return b;
      }
    }
  }

  // ---------------------------------------------------------------- state

  final Map<String, String> opt;
  final SparkSession spark;
  final Tracer tracer;
  final Path work;
  final String data;
  /** Benchmark-side check work (hashing, copying aside), kept out of the timed figures. */
  long checkNs = 0;
  final Map<String, Long> sums = new LinkedHashMap<>();
  final List<String> opRecords = new ArrayList<>();

  Harness(Map<String, String> opt, SparkSession spark, Tracer tracer) {
    this.opt = opt;
    this.spark = spark;
    this.tracer = tracer;
    this.work = Paths.get(opt.get("work"));
    this.data = opt.get("data");
  }

  void sum(String k, long v) { sums.merge(k, v, Long::sum); }

  static long gcMs() {
    long t = 0;
    for (GarbageCollectorMXBean b : ManagementFactory.getGarbageCollectorMXBeans())
      t += Math.max(0, b.getCollectionTime());
    return t;
  }

  /** CPU time of this JVM, all threads, in ns. */
  static long cpuNs() {
    return ((com.sun.management.OperatingSystemMXBean)
        ManagementFactory.getOperatingSystemMXBean()).getProcessCpuTime();
  }

  /** Host-wide stolen CPU time so far (all vCPUs), in ms, from /proc/stat. */
  static long stealMs() {
    try {
      String[] f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim().split("\\s+");
      return Long.parseLong(f[8]) * 10;
    } catch (Exception e) {
      return 0;
    }
  }

  static String q(String s) {
    StringBuilder b = new StringBuilder("\"");
    for (char c : s.toCharArray()) {
      if (c == '"' || c == '\\') b.append('\\').append(c);
      else if (c < ' ') b.append(String.format("\\u%04x", (int) c));
      else b.append(c);
    }
    return b.append('"').toString();
  }

  // ---------------------------------------------------------------- gates

  /** Rows of each distinct (gate, result hash), written out for the check after the window. */
  final Map<String, Object[]> results = new LinkedHashMap<>();

  /** Canonical form of a result, as the correctness gate compares it:
   *  columns ordered by name, rows sorted. Equal hashes mean equal results. */
  static String canonicalHash(StructType schema, List<Row> rows) throws Exception {
    String[] names = schema.fieldNames();
    Integer[] order = new Integer[names.length];
    for (int i = 0; i < order.length; i++) order[i] = i;
    java.util.Arrays.sort(order, (a, b) -> names[a].compareTo(names[b]));
    List<String> lines = new ArrayList<>(rows.size());
    for (Row r : rows) {
      StringBuilder b = new StringBuilder();
      for (int i : order) b.append(r.isNullAt(i) ? "\u0000" : String.valueOf(r.get(i))).append('\u0001');
      lines.add(b.toString());
    }
    java.util.Collections.sort(lines);
    MessageDigest md = MessageDigest.getInstance("SHA-256");
    for (int i : order) md.update((names[i] + "\u0002").getBytes(StandardCharsets.UTF_8));
    for (String l : lines) md.update((l + "\n").getBytes(StandardCharsets.UTF_8));
    StringBuilder h = new StringBuilder();
    for (byte x : md.digest()) h.append(String.format("%02x", x));
    return h.substring(0, 16);
  }

  @SuppressWarnings("unchecked")
  String gateOp(String gate, boolean timed) throws Exception {
    scala.Function2<SparkSession, String, Dataset<Row>> fn =
        graft.SparkEntry$.MODULE$.queries().apply(gate);
    long gc0 = gcMs(), cpu0 = cpuNs(), st0 = stealMs();
    long a = System.nanoTime();
    Dataset<Row> df = fn.apply(spark, data);
    long construct = System.nanoTime() - a;
    Harness.Bucket cb = tracer != null ? tracer.take() : null;
    a = System.nanoTime();
    df.queryExecution().executedPlan();
    long plan = System.nanoTime() - a;
    if (tracer != null) cb.add(tracer.take());
    long wall0 = System.currentTimeMillis();
    a = System.nanoTime();
    List<Row> rows = df.collectAsList();
    long exec = System.nanoTime() - a;
    long wall1 = System.currentTimeMillis();
    long gc = gcMs() - gc0, cpu = cpuNs() - cpu0, steal = stealMs() - st0;
    spark.catalog().clearCache();

    long c0 = System.nanoTime();
    String hash = canonicalHash(df.schema(), rows);
    results.putIfAbsent(gate + "/" + hash, new Object[] {df.schema(), rows});
    if (timed && tracer != null) {
      Bucket eb = tracer.take();
      // plan-time jobs (none expected) ride with construct
      sum("construct.ns", construct); sum("plan.ns", plan); sum("exec.ns", exec);
      sum("construct.jobs", cb.jobs);
      sum("exec.no_task_ms", eb.noTaskMs(wall0, wall1));
      sum("exec.jobs", eb.jobs); sum("exec.stages", eb.stages); sum("exec.tasks", eb.tasks);
      sum("exec.task_cpu_ns", eb.cpuNs); sum("exec.task_run_ms", eb.runMs);
      sum("exec.task_gc_ms", eb.gcMs); sum("exec.shuffle_read_bytes", eb.shuffleRead);
      sum("exec.shuffle_write_bytes", eb.shuffleWrite); sum("exec.spill_bytes", eb.spill);
      sum("jvm.gc_ms", gc);
    }
    checkNs += System.nanoTime() - c0;
    return String.format(java.util.Locale.ROOT,
        "{\"op\":%s,\"ms\":%.3f,\"construct_ms\":%.3f,\"plan_ms\":%.3f,\"exec_ms\":%.3f,\"cpu_ms\":%.3f,\"steal_ms\":%d,\"hash\":%s}",
        q(gate), (construct + plan + exec) / 1e6, construct / 1e6, plan / 1e6, exec / 1e6, cpu / 1e6, steal, q(hash));
  }

  void dumpResults() throws IOException {
    Path dir = work.resolve("results");
    StringBuilder sql = new StringBuilder("{");
    Map<String, String> oracle = new HashMap<>();
    for (String k : results.keySet()) {
      Object[] v = results.get(k);
      @SuppressWarnings("unchecked") List<Row> rows = (List<Row>) v[1];
      spark.createDataFrame(rows, (StructType) v[0]).coalesce(1).write()
          .parquet(dir.resolve(k).toString());
      String gate = k.substring(0, k.indexOf('/'));
      var o = graft.SparkEntry$.MODULE$.oracleSql().get(gate);
      if (o.isDefined()) oracle.put(gate, o.get());
    }
    for (var e : oracle.entrySet()) {
      if (sql.length() > 1) sql.append(',');
      sql.append(q(e.getKey())).append(':').append(q(e.getValue()));
    }
    Files.writeString(work.resolve("oracle_sql.json"), sql.append('}').toString());
  }

  // ------------------------------------------------------- import-refresh

  Path irDir, tablesDir, viewsDir, feedFile;
  Dataset<Row> base;
  int cycle = 0;
  static final String[] IMPORT_OUT =
      {"gisaid_api_sequence", "gisaid_api_sequence_mutation", "sequence_identifier"};
  static final String CHECKED_VIEW = "spectrum_sequence_public_meta";

  void importSetup() throws Exception {
    irDir = work.resolve("ir");
    tablesDir = irDir.resolve("tables");
    viewsDir = irDir.resolve("views");
    feedFile = irDir.resolve("feed").resolve("provision.json");
    // fixtures and the first (JIT-cold) import+refresh cycle
    graft.jobs.ImportAndRefresh$.MODULE$.chain(spark, irDir.toString());
    base = graft.core.TableIO$.MODULE$.read(spark, opt.get("base"));
  }

  static void copyTree(Path from, Path to) throws IOException {
    try (Stream<Path> s = Files.walk(from)) {
      for (Path p : (Iterable<Path>) s::iterator) {
        Path t = to.resolve(from.relativize(p).toString());
        if (Files.isDirectory(p)) Files.createDirectories(t);
        else Files.copy(p, t, StandardCopyOption.REPLACE_EXISTING);
      }
    }
  }

  /** Copies the import outputs and the checked view aside, with the
   *  live directory listings, for the check after the window. */
  void snapshot(String name) throws IOException {
    Path s = work.resolve("snap").resolve(name);
    Files.createDirectories(s);
    for (String t : IMPORT_OUT) copyTree(tablesDir.resolve(t), s.resolve(t));
    copyTree(viewsDir.resolve(CHECKED_VIEW), s.resolve(CHECKED_VIEW));
    for (Path d : new Path[] {tablesDir, viewsDir}) {
      try (Stream<Path> l = Files.list(d)) {
        Files.write(s.resolve(d.getFileName() + ".lst"),
            (Iterable<String>) l.map(p -> p.getFileName().toString()).sorted()::iterator);
      }
    }
  }

  String importOp(boolean timed) throws Exception {
    int k = cycle++;
    int nFeeds = Integer.parseInt(opt.get("feeds"));
    Path src = Paths.get(opt.get("feeddir")).resolve("feed-" + (k % nFeeds) + ".json");
    long gc0 = gcMs(), cpu0 = cpuNs(), st0 = stealMs();
    long a = System.nanoTime();
    Files.copy(src, feedFile, StandardCopyOption.REPLACE_EXISTING);
    Dataset<Row> ids = graft.core.TableIO$.MODULE$.read(spark,
        tablesDir.resolve("sequence_identifier").toString());
    long w0 = System.currentTimeMillis();
    var report = graft.jobs.GisaidImport$.MODULE$.run(spark, feedFile.toString(), base, ids,
        tablesDir.toString());
    long w1 = System.currentTimeMillis();
    long imp = System.nanoTime() - a;
    Bucket ib = tracer != null ? tracer.take() : null;
    long w2 = System.currentTimeMillis();
    a = System.nanoTime();
    graft.jobs.SpectrumRefresh$.MODULE$.run(spark, tablesDir.toString(), viewsDir.toString());
    long ref = System.nanoTime() - a;
    long w3 = System.currentTimeMillis();
    long gc = gcMs() - gc0, cpu = cpuNs() - cpu0, steal = stealMs() - st0;

    long c0 = System.nanoTime();
    String snap = "cycle-" + k;
    snapshot(snap);
    if (timed && tracer != null) {
      Bucket rb = tracer.take();
      sum("import.ns", imp); sum("refresh.ns", ref); sum("exec.ns", imp + ref);
      sum("import.jobs", ib.jobs); sum("import.no_task_ms", ib.noTaskMs(w0, w1));
      sum("import.output_bytes", ib.output);
      sum("refresh.jobs", rb.jobs); sum("refresh.no_task_ms", rb.noTaskMs(w2, w3));
      sum("refresh.output_bytes", rb.output);
      ib.add(rb);
      sum("exec.no_task_ms", ib.noTaskMs(w0, w1) + rb.noTaskMs(w2, w3));
      sum("exec.jobs", ib.jobs); sum("exec.stages", ib.stages); sum("exec.tasks", ib.tasks);
      sum("exec.task_cpu_ns", ib.cpuNs); sum("exec.task_run_ms", ib.runMs);
      sum("exec.task_gc_ms", ib.gcMs); sum("exec.shuffle_read_bytes", ib.shuffleRead);
      sum("exec.shuffle_write_bytes", ib.shuffleWrite); sum("exec.spill_bytes", ib.spill);
      sum("jvm.gc_ms", gc);
    }
    checkNs += System.nanoTime() - c0;
    return String.format(java.util.Locale.ROOT,
        "{\"op\":\"cycle\",\"ms\":%.3f,\"import_ms\":%.3f,\"refresh_ms\":%.3f,\"cpu_ms\":%.3f,\"steal_ms\":%d,\"feed\":%d,"
            + "\"snap\":%s,\"processed\":%d,\"failed\":%d,\"deleted\":%d}",
        (imp + ref) / 1e6, imp / 1e6, ref / 1e6, cpu / 1e6, steal, k % nFeeds, q(snap),
        report.processed(), report.failed(), report.deleted());
  }

  // ----------------------------------------------------------------- main

  String op(String name, boolean timed) throws Exception {
    return name.equals("cycle") ? importOp(timed) : gateOp(name, timed);
  }

  static long vmHwmKb() throws IOException {
    for (String l : Files.readAllLines(Paths.get("/proc/self/status")))
      if (l.startsWith("VmHWM:")) return Long.parseLong(l.replaceAll("[^0-9]", ""));
    return -1;
  }

  public static void main(String[] args) throws Exception {
    Map<String, String> opt = new HashMap<>();
    for (int i = 0; i + 1 < args.length; i += 2) opt.put(args[i].replaceFirst("^--", ""), args[i + 1]);
    boolean trace = "1".equals(opt.get("trace"));
    boolean imports = opt.get("workload").equals("import-refresh");
    String[] round = opt.get("round").split(",");
    int cores = Integer.parseInt(opt.get("cores"));
    long budgetNs = (long) (Double.parseDouble(opt.get("seconds")) * 1e9);

    long a = System.nanoTime();
    SparkSession spark = graft.GraftSession$.MODULE$.build("local[" + cores + "]", cores);
    long sessionNs = System.nanoTime() - a;
    Tracer tracer = null;
    if (trace) {
      tracer = new Tracer(spark);
      spark.sparkContext().addSparkListener(tracer);
    }
    Harness h = new Harness(opt, spark, tracer);

    String[] tables = {"region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings"};
    // the gate tables, resolved cold and then from the memo; import-refresh reads none
    long coldNs = 0, hitNs = 0;
    if (h.data != null) {
      a = System.nanoTime();
      for (String t : tables) graft.Tables$.MODULE$.t(spark, h.data, t);
      coldNs = System.nanoTime() - a;
      a = System.nanoTime();
      for (String t : tables) graft.Tables$.MODULE$.t(spark, h.data, t);
      hitNs = System.nanoTime() - a;
    }

    // warm-up: --warmup whole rounds (for import-refresh, the demo chain first), untimed
    long checkBefore = h.checkNs;
    a = System.nanoTime();
    if (imports) h.importSetup();
    int warmRounds = Integer.parseInt(opt.getOrDefault("warmup", "1"));
    for (int r = 0; r < warmRounds; r++)
      for (String g : round) {
        try { h.op(g, false); }
        catch (Throwable e) { System.err.println("[harness] warm-up " + g + " failed: " + e); }
      }
    if (imports) { long c0 = System.nanoTime(); h.snapshot("warm"); h.checkNs += System.nanoTime() - c0; }
    long warmNs = System.nanoTime() - a - (h.checkNs - checkBefore);
    if (tracer != null) tracer.take();

    long firstOpEpochMs = System.currentTimeMillis();
    long setupCheckNs = h.checkNs;
    h.checkNs = 0;
    int attempted = 0, failed = 0, rounds = 0;
    List<String> roundMs = new ArrayList<>();
    long w0 = System.nanoTime();
    do {
      long r0 = System.nanoTime(), rc0 = h.checkNs;
      for (String g : round) {
        attempted++;
        try { h.opRecords.add(h.op(g, true)); }
        catch (Throwable e) {
          failed++;
          h.opRecords.add("{\"op\":" + q(g) + ",\"error\":" + q(String.valueOf(e)) + "}");
          System.err.println("[harness] " + g + " failed: " + e);
        }
      }
      rounds++;
      roundMs.add(String.format(java.util.Locale.ROOT, "%.3f",
          (System.nanoTime() - r0 - (h.checkNs - rc0)) / 1e6));
    } while (System.nanoTime() - w0 - h.checkNs < budgetNs);
    long windowNs = System.nanoTime() - w0 - h.checkNs;
    long hwm = vmHwmKb();

    if (!imports) h.dumpResults();
    StringBuilder s = new StringBuilder("{");
    s.append("\"first_op_epoch_ms\":").append(firstOpEpochMs)
        .append(",\"setup_check_s\":").append(setupCheckNs / 1e9)
        .append(",\"session_build_ms\":").append(sessionNs / 1e6)
        .append(",\"tables_resolve_cold_ms\":").append(coldNs / 1e6)
        .append(",\"tables_resolve_hit_ms\":").append(hitNs / 1e6)
        .append(",\"warmup_ms\":").append(warmNs / 1e6)
        .append(",\"window_s\":").append(windowNs / 1e9)
        .append(",\"rounds\":").append(rounds)
        .append(",\"round_ms\":[").append(String.join(",", roundMs)).append("]")
        .append(",\"attempted\":").append(attempted)
        .append(",\"failed\":").append(failed)
        .append(",\"peak_rss_kb\":").append(hwm)
        .append(",\"sums\":{");
    boolean first = true;
    for (var e : h.sums.entrySet()) {
      if (!first) s.append(',');
      first = false;
      s.append(q(e.getKey())).append(':').append(e.getValue());
    }
    s.append("},\"ops\":[").append(String.join(",\n", h.opRecords)).append("]}");
    Files.writeString(Paths.get(opt.get("out")), s.toString());
    spark.stop();
  }
}
