import java.io.BufferedWriter;
import java.io.IOException;
import java.io.OutputStream;
import java.io.OutputStreamWriter;
import java.io.Writer;
import java.nio.charset.StandardCharsets;
import java.nio.file.Files;
import java.nio.file.Path;
import java.nio.file.Paths;
import java.time.LocalDate;
import java.util.ArrayList;
import java.util.Base64;
import java.util.HashSet;
import java.util.LinkedHashMap;
import java.util.List;
import java.util.Map;
import java.util.Set;
import java.util.SplittableRandom;
import java.util.zip.GZIPOutputStream;

import javax.crypto.Cipher;
import javax.crypto.spec.IvParameterSpec;
import javax.crypto.spec.SecretKeySpec;

/**
 * Seeded input generator for the CDI benchmark. It runs as its own process
 * and depends on nothing but the JDK: envelopes are encrypted with
 * javax.crypto AES/CTR directly and every JSON line is written by hand, so
 * the program under test only ever sees the files written here.
 *
 * Usage: java CdiGen cdi|corpus SEED OUTDIR key=value...
 *
 * cdi keys:    dates, records, parts, update, delete, prior, keys, keyrun
 * corpus keys: docs
 *
 * The same arguments always produce byte-identical files: one
 * SplittableRandom drives every choice, gzip headers carry no mtime, and
 * nothing reads the clock.
 */
public final class CdiGen {
    static final String DB = "calculator";
    static final String COLLECTION = "calculationParts";
    /** First data date; export date N reads data date N - 1. */
    static final LocalDate FIRST_DATA_DATE = LocalDate.of(2024, 3, 1);

    public static void main(String[] args) throws Exception {
        if (args.length < 3) {
            System.err.println("usage: CdiGen cdi|corpus SEED OUTDIR key=value...");
            System.exit(2);
        }
        long seed = Long.parseLong(args[1]);
        Path out = Paths.get(args[2]);
        Map<String, String> kv = new LinkedHashMap<>();
        for (int i = 3; i < args.length; i++) {
            String[] p = args[i].split("=", 2);
            kv.put(p[0], p[1]);
        }
        Files.createDirectories(out);
        switch (args[0]) {
            case "cdi": new Cdi(seed, out, kv).run(); break;
            case "corpus": new Corpus(seed, out, kv).run(); break;
            default:
                System.err.println("unknown kind " + args[0]);
                System.exit(2);
        }
    }

    static int intArg(Map<String, String> kv, String k, int dflt) {
        return kv.containsKey(k) ? Integer.parseInt(kv.get(k)) : dflt;
    }

    static double dblArg(Map<String, String> kv, String k, double dflt) {
        return kv.containsKey(k) ? Double.parseDouble(kv.get(k)) : dflt;
    }

    static Writer text(Path p) throws IOException {
        Files.createDirectories(p.getParent());
        return new BufferedWriter(new OutputStreamWriter(Files.newOutputStream(p), StandardCharsets.UTF_8), 1 << 16);
    }

    static Writer gzip(Path p) throws IOException {
        Files.createDirectories(p.getParent());
        OutputStream os = new GZIPOutputStream(Files.newOutputStream(p), 1 << 16);
        return new BufferedWriter(new OutputStreamWriter(os, StandardCharsets.UTF_8), 1 << 16);
    }

    static String hex(SplittableRandom r, int nHex) {
        StringBuilder sb = new StringBuilder(nHex);
        for (int i = 0; i < nHex; i++) sb.append(Character.forDigit(r.nextInt(16), 16));
        return sb.toString();
    }

    static String uuid(SplittableRandom r) {
        String h = hex(r, 32);
        return h.substring(0, 8) + "-" + h.substring(8, 12) + "-" + h.substring(12, 16) + "-"
            + h.substring(16, 20) + "-" + h.substring(20);
    }

    static byte[] bytes(SplittableRandom r, int n) {
        byte[] b = new byte[n];
        for (int i = 0; i < n; i++) b[i] = (byte) r.nextInt(256);
        return b;
    }

    /** ISO instant in one of the two incoming shapes the validator wraps. */
    static String date(SplittableRandom r, LocalDate day, boolean zulu) {
        StringBuilder sb = new StringBuilder(28).append(day).append('T');
        pad(sb, r.nextInt(24), 2).append(':');
        pad(sb, r.nextInt(60), 2).append(':');
        pad(sb, r.nextInt(60), 2).append('.');
        return pad(sb, r.nextInt(1000), 3).append(zulu ? "Z" : "+0000").toString();
    }

    static StringBuilder pad(StringBuilder sb, int v, int width) {
        String s = Integer.toString(v);
        for (int i = s.length(); i < width; i++) sb.append('0');
        return sb.append(s);
    }

    static final String[] WORDS = {
        "award", "claim", "payment", "period", "assessment", "deduction", "earnings", "housing",
        "element", "child", "carer", "capability", "work", "allowance", "standard", "limited",
        "transitional", "protection", "advance", "recovery", "sanction", "hardship", "rent",
        "service", "charge", "income", "capital", "savings", "pension", "partner", "household"};

    /** ASCII filler of about n characters. */
    static String filler(SplittableRandom r, int n) {
        StringBuilder sb = new StringBuilder(n + 16);
        while (sb.length() < n) {
            if (sb.length() > 0) sb.append(' ');
            sb.append(WORDS[r.nextInt(WORDS.length)]);
        }
        return sb.toString();
    }

    // ------------------------------------------------------------------
    // CDI envelopes
    // ------------------------------------------------------------------

    static final class Cdi {
        final SplittableRandom r;
        final Path out;
        final int nDates, records, parts, prior, nKeys, keyRun;
        final double updateFrac, deleteFrac;
        final Cipher cipher;
        /** encryptedEncryptionKey (what envelopes carry) -> plaintext key, base64. */
        final Map<String, String> dks = new LinkedHashMap<>();
        final List<String> encKeys = new ArrayList<>();
        final List<byte[]> plainKeys = new ArrayList<>();
        /** ids that can still be updated or deleted, in insertion order */
        final List<String> live = new ArrayList<>();
        /** id -> {marker, db_type} of its last write */
        final Map<String, String[]> last = new LinkedHashMap<>();
        long seq = 0;

        Cdi(long seed, Path out, Map<String, String> kv) throws Exception {
            this.r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 1);
            this.out = out;
            nDates = intArg(kv, "dates", 3);
            records = intArg(kv, "records", 1000);
            parts = intArg(kv, "parts", 16);
            prior = intArg(kv, "prior", 0);
            nKeys = intArg(kv, "keys", 3);
            keyRun = intArg(kv, "keyrun", 250);
            updateFrac = dblArg(kv, "update", 0.2);
            deleteFrac = dblArg(kv, "delete", 0.1);
            cipher = Cipher.getInstance("AES/CTR/NoPadding");
            for (int k = 0; k < nKeys; k++) {
                byte[] plain = bytes(r, 16);
                String enc = Base64.getEncoder().encodeToString(bytes(r, 48));
                plainKeys.add(plain);
                encKeys.add(enc);
                dks.put(enc, Base64.getEncoder().encodeToString(plain));
            }
        }

        String marker() {
            return pad(new StringBuilder("v"), (int) seq++, 8).toString();
        }

        void run() throws Exception {
            if (prior > 0) writePrior();
            try (Writer dates = text(out.resolve("expected/dates.tsv"))) {
                for (int d = 0; d < nDates; d++) {
                    LocalDate dataDate = FIRST_DATA_DATE.plusDays(d);
                    int[] counts = writeDate(dataDate);
                    dates.write(dataDate.plusDays(1) + "\t" + counts[0] + "\t" + counts[1] + "\n");
                }
            }
            try (Writer w = text(out.resolve("dks.tsv"))) {
                for (Map.Entry<String, String> e : dks.entrySet())
                    w.write(e.getKey() + "\t" + e.getValue() + "\n");
            }
            try (Writer w = text(out.resolve("expected/final.tsv"))) {
                for (Map.Entry<String, String[]> e : last.entrySet())
                    w.write(e.getKey() + "\t" + e.getValue()[0] + "\t" + e.getValue()[1] + "\n");
            }
            try (Writer w = text(out.resolve("meta.properties"))) {
                w.write("db=" + DB + "\ncollection=" + COLLECTION + "\n");
                w.write("first_export_date=" + FIRST_DATA_DATE.plusDays(1) + "\n");
                w.write("dates=" + nDates + "\n");
                if (prior > 0) w.write("prior_export_date=" + FIRST_DATA_DATE + "\n");
            }
        }

        /** A previous full export in the layout Runner.update reads:
         *  (id, db_type, val, id_part) rows, converted to ORC by the benchmark. */
        void writePrior() throws IOException {
            LocalDate day = FIRST_DATA_DATE.minusDays(1);
            // one part file per leading hex digit, rows sorted by id, so the
            // benchmark can write one ORC file per id_part without a shuffle
            List<List<String[]>> byDigit = new ArrayList<>();
            for (int p = 0; p < 16; p++) byDigit.add(new ArrayList<>());
            for (int i = 0; i < prior; i++) {
                String id = uuid(r);
                boolean deleted = r.nextDouble() < 0.05;
                String m = marker();
                String val = "{\"_id\":{\"id\":\"" + id + "\"},\"_lastModifiedDateTime\":{\"d_date\":\""
                    + date(r, day, true) + "\"},\"bench_version\":\"" + m + "\",\"d_type\":\"calculationPart\""
                    + (deleted ? ",\"_removedDateTime\":{\"d_date\":\"" + date(r, day, true) + "\"}" : "")
                    + ",\"filler\":\"" + filler(r, 200 + r.nextInt(900)) + "\"}";
                String dbType = deleted ? "DELETE" : "INSERT";
                byDigit.get(Character.digit(id.charAt(0), 16)).add(new String[]{id, "{\"id\":\"{\\\"id\\\":\\\"" + id
                    + "\\\"}\",\"db_type\":\"" + dbType + "\",\"val\":" + jsonString(val) + ",\"id_part\":\""
                    + id.substring(0, 2) + "\"}\n"});
                last.put(id, new String[]{m, dbType});
                if (!deleted) live.add(id);
            }
            for (int p = 0; p < 16; p++) {
                byDigit.get(p).sort((a, b) -> a[0].compareTo(b[0]));
                try (Writer w = gzip(out.resolve(String.format("prior_export/part-%05d.jsonl.gz", p)))) {
                    for (String[] row : byDigit.get(p)) w.write(row[1]);
                }
            }
        }

        /** One data date: parts gzip files, returns {well-formed, malformed}. */
        int[] writeDate(LocalDate day) throws Exception {
            List<String> lines = new ArrayList<>(records);
            Set<String> touched = new HashSet<>();
            int nUpdate = live.isEmpty() ? 0 : (int) Math.round(records * updateFrac);
            int nDelete = live.isEmpty() ? 0 : (int) Math.round(records * deleteFrac);
            // kinds in a seeded random order: 0 insert, 1 update, 2 delete
            int[] kinds = new int[records];
            for (int i = 0; i < records; i++) kinds[i] = i < nUpdate ? 1 : i < nUpdate + nDelete ? 2 : 0;
            for (int i = records - 1; i > 0; i--) {
                int j = r.nextInt(i + 1);
                int t = kinds[i]; kinds[i] = kinds[j]; kinds[j] = t;
            }
            for (int i = 0; i < records; i++) {
                int kind = kinds[i];
                String id;
                if (kind == 0) {
                    id = uuid(r);
                } else {
                    // an id from an earlier date, at most once per date
                    int at;
                    do { at = r.nextInt(live.size()); } while (touched.contains(live.get(at)));
                    id = live.get(at);
                    if (kind == 2) {
                        live.set(at, live.get(live.size() - 1));
                        live.remove(live.size() - 1);
                    }
                }
                touched.add(id);
                boolean delete = kind == 2;
                if (kind == 0) live.add(id);
                String m = marker();
                last.put(id, new String[]{m, delete ? "DELETE" : "INSERT"});
                int part = (int) ((long) i * parts / records);
                int key = (part * 7 + i / keyRun) % nKeys;
                lines.add(envelope(id, record(id, m, day, delete), key, day));
            }
            int malformed = Math.max(1, (int) Math.round(records * 0.001));
            for (int k = 0; k < malformed; k++) {
                int at = r.nextInt(lines.size() + 1);
                lines.add(at, malformedLine(lines.get(r.nextInt(lines.size()))));
            }
            Path dir = out.resolve(String.format("corporate_storage/%04d/%02d/%02d/%s/%s",
                day.getYear(), day.getMonthValue(), day.getDayOfMonth(), DB, COLLECTION));
            int n = lines.size();
            for (int p = 0; p < parts; p++) {
                try (Writer w = gzip(dir.resolve(String.format("part-%05d.jsonl.gz", p)))) {
                    for (int i = (int) ((long) p * n / parts); i < (int) ((long) (p + 1) * n / parts); i++)
                        w.write(lines.get(i) + "\n");
                }
            }
            return new int[]{records, malformed};
        }

        /** Plaintext dbObject of about 1 KB with the shapes validate and
         *  sanitise rewrite: nested and arrayed dates, $-keys, a \u0000
         *  escape, _archived fields and, for deletes, _removedDateTime. */
        String record(String id, String marker, LocalDate day, boolean delete) {
            LocalDate created = day.minusDays(1 + r.nextInt(700));
            StringBuilder sb = new StringBuilder(1400);
            sb.append("{\"_id\":{\"id\":\"").append(id).append("\"}");
            sb.append(",\"_lastModifiedDateTime\":\"").append(date(r, day, r.nextBoolean())).append('"');
            sb.append(",\"createdDateTime\":\"").append(date(r, created, true)).append('"');
            sb.append(",\"bench_version\":\"").append(marker).append('"');
            sb.append(",\"$type\":\"calculationPart\"");
            sb.append(",\"amount\":{\"$numberDecimal\":\"").append(r.nextInt(100000)).append('.')
                .append(r.nextInt(100)).append("\"}");
            int nDates = 1 + r.nextInt(4);
            sb.append(",\"history\":{\"dates\":[");
            for (int k = 0; k < nDates; k++) {
                if (k > 0) sb.append(',');
                sb.append('"').append(date(r, created.plusDays(k), r.nextBoolean())).append('"');
            }
            sb.append("],\"assessed\":{\"at\":\"").append(date(r, created, false)).append("\",\"by\":\"")
                .append(hex(r, 12)).append("\"}}");
            sb.append(",\"note\":\"").append(filler(r, 20)).append("\\u0000").append(filler(r, 20)).append('"');
            if (r.nextInt(4) == 0) {
                sb.append(",\"_archived\":true,\"_archivedDateTime\":\"").append(date(r, day, true)).append('"');
            }
            if (delete) sb.append(",\"_removedDateTime\":\"").append(date(r, day, true)).append('"');
            // sizes spread around 1 KB: 300 B to about 3 KB
            int target = 300 + (int) Math.min(2700, -Math.log(1 - r.nextDouble()) * 650);
            int pad = Math.max(0, target - sb.length() - 16);
            sb.append(",\"filler\":\"").append(filler(r, pad)).append("\"}");
            return sb.toString();
        }

        String envelope(String id, String record, int key, LocalDate day) throws Exception {
            byte[] iv = bytes(r, 16);
            cipher.init(Cipher.ENCRYPT_MODE, new SecretKeySpec(plainKeys.get(key), "AES"), new IvParameterSpec(iv));
            String dbObject = Base64.getEncoder().encodeToString(cipher.doFinal(record.getBytes(StandardCharsets.UTF_8)));
            String ts = date(r, day, false);
            return "{\"traceId\":\"" + hex(r, 32) + "\",\"unitOfWorkId\":\"" + hex(r, 32)
                + "\",\"@type\":\"V4\",\"message\":{\"@type\":\"MONGO_UPDATE\",\"collection\":\"" + COLLECTION
                + "\",\"db\":\"" + DB + "\",\"_id\":{\"id\":\"" + id + "\"},\"_lastModifiedDateTime\":\"" + ts
                + "\",\"encryption\":{\"encryptionKeyId\":\"cloudhsm:7," + key + "\",\"encryptedEncryptionKey\":\""
                + encKeys.get(key) + "\",\"initialisationVector\":\"" + Base64.getEncoder().encodeToString(iv)
                + "\",\"keyEncryptionKeyId\":\"cloudhsm:7," + key + "\"},\"dbObject\":\"" + dbObject
                + "\",\"timestamp_created_from\":\"_lastModifiedDateTime\"},\"version\":\"core-4.release_152.0\""
                + ",\"timestamp\":\"" + ts + "\"}";
        }

        /** A line the envelope parser must reject: truncated mid-line, or
         *  complete JSON without the encrypted payload. */
        String malformedLine(String like) {
            if (r.nextBoolean()) return like.substring(0, 20 + r.nextInt(like.length() - 40));
            return like.replaceFirst(",\"dbObject\":\"[^\"]*\"", "");
        }
    }

    static String jsonString(String s) {
        StringBuilder sb = new StringBuilder(s.length() + 16).append('"');
        for (int i = 0; i < s.length(); i++) {
            char c = s.charAt(i);
            if (c == '"' || c == '\\') sb.append('\\');
            sb.append(c);
        }
        return sb.append('"').toString();
    }

    // ------------------------------------------------------------------
    // Dedup corpus
    // ------------------------------------------------------------------

    static final class Corpus {
        final SplittableRandom r;
        final Path out;
        final int docs;
        final String[] vocab = new String[20000];

        Corpus(long seed, Path out, Map<String, String> kv) {
            this.r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 2);
            this.out = out;
            docs = intArg(kv, "docs", 1000);
            Set<String> seen = new HashSet<>();
            for (int i = 0; i < vocab.length; i++) {
                String w;
                do {
                    StringBuilder sb = new StringBuilder();
                    int len = 3 + r.nextInt(7);
                    for (int k = 0; k < len; k++) sb.append((char) ('a' + r.nextInt(26)));
                    w = sb.toString();
                } while (!seen.add(w));
                vocab[i] = w;
            }
        }

        String[] words(int n) {
            String[] w = new String[n];
            for (int i = 0; i < n; i++) w[i] = vocab[r.nextInt(vocab.length)];
            return w;
        }

        void run() throws IOException {
            // families: a base text plus planted exact copies and one-word-edit
            // variants; doc ids are a seeded permutation so families scatter
            List<List<String>> families = new ArrayList<>();
            List<List<Boolean>> exactFlags = new ArrayList<>();
            int n = 0;
            while (n < docs) {
                String[] base = words(60 + r.nextInt(100));
                List<String> texts = new ArrayList<>();
                List<Boolean> exact = new ArrayList<>();
                texts.add(String.join(" ", base));
                exact.add(true);
                double u = r.nextDouble();
                int copies = u < 0.08 ? 1 + r.nextInt(2) : 0;
                int variants = u >= 0.08 && u < 0.16 ? 1 + r.nextInt(2) : 0;
                for (int c = 0; c < copies; c++) { texts.add(texts.get(0)); exact.add(true); }
                for (int v = 0; v < variants; v++) {
                    String[] w = base.clone();
                    int at = r.nextInt(w.length);
                    String repl;
                    do { repl = vocab[r.nextInt(vocab.length)]; } while (repl.equals(w[at]));
                    w[at] = repl;
                    texts.add(String.join(" ", w));
                    exact.add(false);
                }
                while (n + texts.size() > docs) { texts.remove(texts.size() - 1); exact.remove(exact.size() - 1); }
                families.add(texts);
                exactFlags.add(exact);
                n += texts.size();
            }
            int[] perm = new int[docs];
            for (int i = 0; i < docs; i++) perm[i] = i;
            for (int i = docs - 1; i > 0; i--) {
                int j = r.nextInt(i + 1);
                int t = perm[i]; perm[i] = perm[j]; perm[j] = t;
            }
            String[] textOf = new String[docs];
            int next = 0;
            try (Writer fam = text(out.resolve("expected/families.tsv"));
                 Writer ex = text(out.resolve("expected/exact_groups.tsv"))) {
                for (int f = 0; f < families.size(); f++) {
                    List<String> texts = families.get(f);
                    StringBuilder all = new StringBuilder();
                    StringBuilder same = new StringBuilder();
                    int nSame = 0;
                    for (int k = 0; k < texts.size(); k++) {
                        int id = perm[next++];
                        textOf[id] = texts.get(k);
                        if (all.length() > 0) all.append(',');
                        all.append(id);
                        if (exactFlags.get(f).get(k)) {
                            if (same.length() > 0) same.append(',');
                            same.append(id);
                            nSame++;
                        }
                    }
                    if (texts.size() > 1) fam.write(all + "\n");
                    if (nSame > 1) ex.write(same + "\n");
                }
            }
            // eight part files, so the corpus lands as an eight-file table
            for (int p = 0; p < 8; p++) {
                try (Writer w = gzip(out.resolve(String.format("corpus/part-%05d.jsonl.gz", p)))) {
                    for (int id = p * docs / 8; id < (p + 1) * docs / 8; id++) {
                        String t = textOf[id];
                        w.write("{\"doc_id\":" + id + ",\"text\":\"" + t + "\",\"lang\":\"en\",\"source\":\"src"
                            + (id % 7) + "\",\"n_chars\":" + t.length() + "}\n");
                    }
                }
            }
            try (Writer w = text(out.resolve("meta.properties"))) {
                w.write("docs=" + docs + "\n");
            }
        }
    }
}
